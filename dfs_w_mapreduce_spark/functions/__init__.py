"""Expression helpers shared by the operator modules and their DuckDB
oracles, each written once for both engines: hashing (the md5 →
integer hash) and text (the whitespace tokenizer)."""
