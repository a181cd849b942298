"""Expression helpers shared by the operator modules and their DuckDB
oracles (hashing: the md5 → integer hash both engines compute)."""
