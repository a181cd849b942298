"""Invariant tests for the round-9 batch — properties the oracle-parity
hash check cannot express: the posting-cap candidate bound actually
engages (and preserves rare-shingle recall) on a synthetic hot-shingle
corpus, Python replicas of the paragraph-canonicalization and
within-doc repetition signals, and the exact integer-log2 identity the
audio filterbank's oracle relies on.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np

from dfs_w_mapreduce_spark.catalog import load_table


def _toks(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text, flags=re.ASCII) if t]


def _shingles(text: str) -> set[str]:
    w = _toks(text)
    return {f"{a} {b}" for a, b in zip(w, w[1:])}


# ------------------------------------------------------ posting cap


def test_posting_cap_bounds_hot_shingle_fanout(spark, monkeypatch):
    """A boilerplate shingle shared by many docs must contribute at
    most cap^2/2 candidate pairs, while pairs that ALSO share rare
    shingles keep their exact jaccard. Build a corpus where one
    shingle spans every doc (df = 40 >> cap = 8) and two docs are
    genuine near-dups through rare shingles."""
    from dfs_w_mapreduce_spark.operators import dedup as D

    monkeypatch.setattr(D, "NGRAM_POSTING_CAP", 8)
    docs = [(i, f"hot boiler x{i} y{i} z{i} w{i}") for i in range(40)]
    # docs 100/101: near-dups sharing rare shingles plus the hot one
    docs += [
        (100, "hot boiler alpha beta gamma delta"),
        (101, "hot boiler alpha beta gamma delta epsilon"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = D._shingles_of(df)
    # force_verify: this tiny corpus's sum(df^2) fits the count-path
    # budget, and the point here is the capped branch's bound
    common, sizes = D._capped_common_counts(spark, sh, sf_dir=None, force_verify=True)
    pairs = {(r.doc_a, r.doc_b): r.common for r in common.collect()}
    # candidate mass is bounded by the cap, not df^2: the hot shingle
    # alone could emit C(41,2) = 820 pairs uncapped; capped, pairs
    # without any rare link can only arise among its 8 kept docs
    assert len(pairs) <= (8 * 7) // 2 + 2, len(pairs)
    # the genuine near-dup pair survives with its EXACT common count
    a, b = _shingles(docs[-2][1]), _shingles(docs[-1][1])
    assert pairs[(100, 101)] == len(a & b)


def test_capped_counts_equal_uncapped_when_cap_exceeds_df(spark, sf_dir):
    """At fixture scale (max shingle df 47 at sf0.001 < cap 512) the
    capped VERIFY path must be bit-identical to the uncapped join —
    force_verify bypasses the runtime plan pick that would otherwise
    route this corpus to the count path, so this asserts the slow
    branch's semantics, not the dispatcher."""
    from dfs_w_mapreduce_spark.operators import dedup as D

    sh = D._doc_shingles(spark, sf_dir)
    capped, _ = D._capped_common_counts(spark, sh, sf_dir, force_verify=True)
    uncapped, _ = D._common_shingle_counts(sh)
    got = {(r.doc_a, r.doc_b): r.common for r in capped.collect()}
    want = {(r.doc_a, r.doc_b): r.common for r in uncapped.collect()}
    assert got == want


# ------------------------------------------- paragraph canonicalization


def test_dedup_paragraph_matches_python_replica(spark, sf_dir):
    from dfs_w_mapreduce_spark.operators.text_analysis import (
        SEG_LEN,
        _SEG_KEY_SHIFT,
        q_dedup_paragraph,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    keeper: dict[str, int] = {}
    occs: list[tuple[int, int, str]] = []
    for r in docs:
        w = _toks(r.text)
        for si in range(0, (len(w) + SEG_LEN - 1) // SEG_LEN):
            seg = " ".join(w[si * SEG_LEN:(si + 1) * SEG_LEN])
            norm = " ".join(
                t for t in re.split(
                    r"\s+", re.sub(r"[^a-z0-9 ]", " ", seg.lower()), flags=re.ASCII
                ) if t
            )
            k = r.doc_id * _SEG_KEY_SHIFT + si
            occs.append((r.doc_id, k, norm))
            keeper[norm] = min(keeper.get(norm, k), k)
    expect: dict[int, tuple[int, int]] = {}
    for doc_id, k, norm in occs:
        n, d = expect.get(doc_id, (0, 0))
        expect[doc_id] = (n + 1, d + (1 if keeper[norm] != k else 0))
    got = {
        r.doc_id: (r.n_segs, r.n_dup_segs)
        for r in q_dedup_paragraph(spark, sf_dir).collect()
    }
    assert got == expect
    # the fixture must actually exercise the dedup (non-trivial signal)
    assert sum(d for _, d in expect.values()) > 0


# ------------------------------------------------ within-doc repetition


def test_quality_repeated_matches_python_replica(spark, sf_dir):
    from dfs_w_mapreduce_spark.operators.text_analysis import (
        REP_SEG_LEN,
        q_quality_repeated,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expect = {}
    nonzero = 0
    for r in docs:
        w = _toks(r.text)
        segs = [
            " ".join(w[i * REP_SEG_LEN:(i + 1) * REP_SEG_LEN])
            for i in range(0, (len(w) + REP_SEG_LEN - 1) // REP_SEG_LEN)
        ]
        c = Counter(segs)
        n, d = len(segs), len(c)
        expect[r.doc_id] = (n, d)
        nonzero += n > d
    got = {
        r.doc_id: (r.n_segs, r.n_distinct_segs)
        for r in q_quality_repeated(spark, sf_dir).collect()
    }
    assert got == expect
    assert nonzero > 0  # the finer REP_SEG_LEN must yield real repeats


def test_quality_repeated_fraction_consistency(spark, sf_dir):
    from dfs_w_mapreduce_spark.operators.text_analysis import q_quality_repeated

    for r in q_quality_repeated(spark, sf_dir).collect():
        assert r.n_distinct_segs <= r.n_segs
        # engines round HALF_UP (1/32 -> 0.0313); Python round() is
        # HALF_EVEN, so compare with a half-ulp-of-4dp tolerance
        assert abs(
            r.dup_line_frac - (r.n_segs - r.n_distinct_segs) / r.n_segs
        ) <= 5.0001e-5
        assert 0.0 <= r.dup_char_frac <= 1.0
        assert r.keep == (r.dup_line_frac <= 0.30 and r.dup_char_frac <= 0.20)


# ------------------------------------------------------ audio filterbank


def test_audio_fbank_matches_python_replica(spark, sf_dir):
    """Recompute the filterbank features from the closed-form waveform
    with plain-int bit_length (no numpy, no frexp) — pins both the
    decode path and the exact-log2 identity the oracle uses."""
    from dfs_w_mapreduce_spark.operators.multimodal import (
        AUDIO_FRAME,
        q_multimodal_audio_fbank,
    )

    meta = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    expect = {}
    for r in meta:
        doc_id = r.doc_id
        nv = (r.n_chars % 1000 + 1) * (1 + doc_id % 2)
        v = [(doc_id * 7 + i * 13) % 4096 - 2048 for i in range(nv)]
        il = [0, 0, 0]
        dom = [0, 0, 0]
        for f0 in range(0, nv, AUDIO_FRAME):
            fr = v[f0:f0 + AUDIO_FRAME]
            dc = sum(fr)
            qc = sum(s * (1, 0, -1, 0)[(f0 + j) % 4] for j, s in enumerate(fr))
            qs = sum(s * (0, 1, 0, -1)[(f0 + j) % 4] for j, s in enumerate(fr))
            ny = sum(s * (1, -1)[(f0 + j) % 2] for j, s in enumerate(fr))
            e = (dc * dc, qc * qc + qs * qs, ny * ny)
            for bi in range(3):
                il[bi] += e[bi].bit_length()
            dom[max(range(3), key=lambda i: (e[i], -i))] += 1
        dominant = ("dc", "quarter", "nyquist")[max(range(3), key=lambda i: (dom[i], -i))]
        expect[doc_id] = (
            (nv + AUDIO_FRAME - 1) // AUDIO_FRAME, il[0], il[1], il[2],
            il[0] - il[2], il[0] - 2 * il[1] + il[2], dominant,
        )
    got = {
        r.doc_id: (
            r.n_frames, r.il_dc, r.il_quarter, r.il_nyquist,
            r.cep1, r.cep2, r.dominant,
        )
        for r in q_multimodal_audio_fbank(spark, sf_dir).collect()
    }
    assert got == expect


def test_frexp_exponent_is_bit_length():
    """The integer log2 the UDFs use (multimodal._ilog2) must equal
    int.bit_length for band energies — and agrees with the float64
    frexp exponent while the ints are exact in float64."""
    from dfs_w_mapreduce_spark.operators.multimodal import _ilog2

    e = np.array([0, 1, 2, 3, 4, 255, 256, (1 << 39) - 1, 1 << 39], dtype=np.int64)
    want = [int(x).bit_length() for x in e]
    assert _ilog2(e).tolist() == want
    assert list(np.where(e > 0, np.frexp(e.astype(np.float64))[1], 0)) == want


# ------------------------------------------------- mimic hardening


def test_oracle_comparator_rejects_hugeint():
    """The round-8 escape: an uncast sum(BIGINT) oracle passes
    fetchall comparison but fails the driver's pandas hash. The
    comparator must now refuse HUGEINT results outright."""
    import duckdb
    import pytest

    from tests.conftest import assert_matches_oracle

    con = duckdb.connect()

    class FakeDF:  # minimal stand-in; must fail BEFORE any Spark use
        columns = ["s"]

        def collect(self):
            return [(1,)]

    with pytest.raises(AssertionError, match="HUGEINT"):
        assert_matches_oracle(
            FakeDF(), con, "SELECT sum(x) AS s FROM (SELECT CAST(1 AS BIGINT) AS x)"
        )


# -------------------------------------------------- second round-9 batch


def _md5_60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_ngram_novelty_matches_python_replica(spark, sf_dir):
    from dfs_w_mapreduce_spark.operators.dedup import q_ngram_novelty

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    first: dict[int, int] = {}
    per_doc: dict[int, set[int]] = {}
    for r in docs:
        w = _toks(r.text)
        ss = {_md5_60(f"{a} {b}") for a, b in zip(w, w[1:])}
        if ss:
            per_doc[r.doc_id] = ss
            for s in ss:
                first[s] = min(first.get(s, r.doc_id), r.doc_id)
    expect = {
        d: (len(ss), sum(1 for s in ss if first[s] == d))
        for d, ss in per_doc.items()
    }
    got = {
        r.doc_id: (r.n_shingles, r.n_novel)
        for r in q_ngram_novelty(spark, sf_dir).collect()
    }
    assert got == expect
    # the smallest doc_id with shingles is 100% novel by construction
    d0 = min(per_doc)
    assert got[d0][0] == got[d0][1]


def test_dedup_report_consistent_with_clusters(spark, sf_dir):
    from collections import Counter

    from dfs_w_mapreduce_spark.operators.dedup import (
        q_dedup_clusters,
        q_dedup_report,
    )

    members = q_dedup_clusters(spark, sf_dir).collect()
    by_size_clusters = Counter()
    by_size_removed = Counter()
    seen = set()
    for m in members:
        if m.cluster_id not in seen:
            seen.add(m.cluster_id)
            by_size_clusters[m.n_members] += 1
        if not m.is_keeper:
            by_size_removed[m.n_members] += 1
    got = {
        r.cluster_size: (r.n_clusters, r.n_docs_removed)
        for r in q_dedup_report(spark, sf_dir).collect()
    }
    expect = {
        sz: (by_size_clusters[sz], by_size_removed[sz]) for sz in by_size_clusters
    }
    assert got == expect


def test_split_leakage_matches_python_replica(spark, sf_dir):
    from dfs_w_mapreduce_spark.operators.pipeline import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
        q_split_leakage,
    )

    P31 = 2_147_483_647
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    def split_of(doc_id):
        h = (_md5_60(str(doc_id)) % P31) % 100
        return "train" if h < SPLIT_TRAIN_PCT else ("val" if h < SPLIT_VAL_PCT else "test")
    train_sh: set[int] = set()
    tests: list[tuple[int, str, set[int]]] = []
    for r in docs:
        w = _toks(r.text)
        ss = {_md5_60(f"{a} {b}") for a, b in zip(w, w[1:])}
        if not ss:
            continue
        sp = split_of(r.doc_id)
        if sp == "train":
            train_sh |= ss
        elif sp == "test":
            tests.append((r.doc_id, r.source, ss))
    expect: dict[str, tuple[int, int]] = {}
    for _, src, ss in tests:
        n, k = expect.get(src, (0, 0))
        expect[src] = (n + 1, k + (1 if ss & train_sh else 0))
    got = {
        r.source: (r.n_test_docs, r.n_leaked)
        for r in q_split_leakage(spark, sf_dir).collect()
    }
    assert got == expect


def test_audio_vad_matches_python_replica(spark, sf_dir):
    from dfs_w_mapreduce_spark.operators.multimodal import (
        AUDIO_FRAME,
        VAD_MS,
        q_multimodal_audio_vad,
    )

    meta = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    expect = {}
    for r in meta:
        doc_id = r.doc_id
        nv = (r.n_chars % 1000 + 1) * (1 + doc_id % 2)
        v = [(doc_id * 7 + i * 13) % 4096 - 2048 for i in range(nv)]
        acts = []
        for f0 in range(0, nv, AUDIO_FRAME):
            fr = v[f0:f0 + AUDIO_FRAME]
            acts.append(sum(s * s for s in fr) >= VAD_MS * len(fr))
        n_seg = sum(1 for i, a in enumerate(acts) if a and (i == 0 or not acts[i - 1]))
        longest = run = 0
        for a in acts:
            run = run + 1 if a else 0
            longest = max(longest, run)
        expect[doc_id] = (len(acts), sum(acts), n_seg, longest)
    got = {
        r.doc_id: (r.n_frames, r.n_active, r.n_segments, r.longest_run)
        for r in q_multimodal_audio_vad(spark, sf_dir).collect()
    }
    assert got == expect
    # both voiced and unvoiced frames must occur (threshold sits at the
    # waveform's mean square, so the gate genuinely separates)
    assert any(v[1] > 0 for v in expect.values())
    assert any(v[1] < v[0] for v in expect.values())
