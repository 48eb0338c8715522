"""Property tests for the md5-DERANDOMIZED sketch family.

These sketches are correctness-bearing: the driver hash-checks the
queries built on them (minhash_neardup_candidates,
minhash_jaccard_calibration, simhash_dedup_buckets, and through
sign_band_rows hyperplane_lsh_bucket_sizes, embedding_lsh_neardup_pairs
and the semantic decontamination tiers), so the
sketch math deserves the same adversarial treatment the ordered-stats
machinery got (tests/test_ordered.py): hypothesis drives token
multisets / vectors through shapes the fixtures never produce —
duplicate-heavy sets, empty docs, single tokens, full overlaps — and
asserts (a) Spark == an independent pure-Python model of the md5
basis, and (b) the banding structure's deterministic guarantees
(identical sets always band together; candidates == the band-match
relation of the model sketches).
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.plans.vectorq import (
    HPLSH_ORACLE_PLANES,
    HPLSH_ORACLE_SALT,
    LSH_ND_BAND_BITS,
    LSH_ND_BANDS,
    MH_CAND_BANDS,
    MHJ_PERMS,
    MHJ_SALTS,
    SIMHASH_ORACLE_BAND_BITS,
    SIMHASH_ORACLE_BITS,
    _md5_minhash_sketch,
    md5_simhash_buckets,
)

# small vocab forces shared tokens + real Jaccard spread across docs
VOCAB = ["air", "node", "mesh", "pm25", "fire", "smoke", "lora", "temp"]

_tokens_list = st.lists(st.sampled_from(VOCAB), min_size=0, max_size=12)
_docs = st.lists(_tokens_list, min_size=1, max_size=10)


def _hx(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _model_tokens(text: str) -> list[str]:
    """tokens(): split(trim(lower(text)), '\\s+') — '' yields ['']."""
    import re

    return re.split(r"\s+", text.strip().lower())


def _model_minhash(elems: list[str]) -> list[int]:
    """One md5 per (salt, element); u32 windows at hex offsets 0/8/16/24;
    mh_{4g+w} = min over elements — plans/vectorq.py::_md5_minhash_sketch."""
    mins = []
    for g, salt in enumerate(MHJ_SALTS):
        digs = [_hx(f"{salt}:{t}") for t in elems]
        for w in range(4):
            mins.append(min(int(d[8 * w : 8 * w + 8], 16) for d in digs))
    assert len(mins) == MHJ_PERMS
    return mins


def _model_shingles(toks: list[str]) -> list[str]:
    """word_shingles(text, 3): distinct 3-grams, or the whole text when
    the doc is shorter than 3 tokens (functions/text.py:88)."""
    if len(toks) >= 3:
        out, seen = [], set()
        for i in range(len(toks) - 2):
            s = " ".join(toks[i : i + 3])
            if s not in seen:
                seen.add(s)
                out.append(s)
        return out
    return [" ".join(toks)]


def _model_simhash(toks: list[str]) -> tuple[int, list[int]]:
    """Bit b of a token = bit (b%4) of hex digit b//4 of md5(token);
    majority vote over DISTINCT tokens; signed-64 mask packing + 16-bit
    bands — plans/vectorq.py::md5_simhash_buckets."""
    distinct = list(dict.fromkeys(toks))
    counters = [0] * SIMHASH_ORACLE_BITS
    for t in distinct:
        h = _hx(t)
        for b in range(SIMHASH_ORACLE_BITS):
            bit = (int(h[b // 4], 16) >> (b % 4)) & 1
            counters[b] += 1 if bit else -1
    sig_u = sum(1 << b for b in range(SIMHASH_ORACLE_BITS) if counters[b] > 0)
    sig = sig_u - (1 << 64) if sig_u >= (1 << 63) else sig_u
    bands = [
        sum(
            1 << j
            for j in range(SIMHASH_ORACLE_BAND_BITS)
            if counters[k * SIMHASH_ORACLE_BAND_BITS + j] > 0
        )
        for k in range(SIMHASH_ORACLE_BITS // SIMHASH_ORACLE_BAND_BITS)
    ]
    return sig, bands


def _model_sign_bands(vec: list[float], n_bands: int, band_bits: int) -> list[int]:
    """±1 plane component = bit 0 of the first hex digit of
    md5('{salt}:{p}:{i}'); projection = SEQUENTIAL left-fold sum (the
    F.aggregate order); bit j of band b set iff the projection onto
    plane b*band_bits + j is > 0."""
    projs = []
    for p in range(n_bands * band_bits):
        acc = 0.0
        for i, x in enumerate(vec):
            sign = 1.0 if int(_hx(f"{HPLSH_ORACLE_SALT}:{p}:{i}")[0], 16) & 1 else -1.0
            acc += x * sign
        projs.append(acc)
    return [
        sum(1 << j for j in range(band_bits) if projs[b * band_bits + j] > 0)
        for b in range(n_bands)
    ]


def test_md5_minhash_sketch_matches_python_model(spark):
    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(docs=_docs)
    def check(docs):
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for basis in ("tokens", "shingles"):
            got = {
                r["doc_id"]: [r[f"mh{k}"] for k in range(MHJ_PERMS)]
                for r in _md5_minhash_sketch(df, basis=basis).collect()
            }
            for i, toks in enumerate(docs):
                mtoks = _model_tokens(" ".join(toks))
                elems = (
                    _model_shingles(mtoks)
                    if basis == "shingles"
                    else list(dict.fromkeys(mtoks))
                )
                assert got[i] == _model_minhash(elems), (basis, i, toks)

    check()


def test_md5_minhash_banding_superset_and_exactness(spark):
    """Banding guarantees, deterministically: (a) docs with IDENTICAL
    element sets agree on every band (candidate recall 1.0 at J=1);
    (b) the Spark candidate relation equals the band-match relation of
    the model sketches — no pair appears without a genuine shared band."""
    from meshtastic_airsensor_database_spark.operators.dedup import (
        pairs_within_buckets,
    )

    @settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
    @given(docs=_docs)
    def check(docs):
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sk = _md5_minhash_sketch(df, basis="tokens")
        bands = sk.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_idx"),
                            F.concat_ws(
                                ":",
                                *[
                                    F.col(f"mh{4 * b + j}").cast("string")
                                    for j in range(4)
                                ],
                            ).alias("band_hash"),
                        )
                        for b in range(MH_CAND_BANDS)
                    ]
                )
            ).alias("band"),
        ).select("doc_id", "band.band_idx", "band.band_hash")
        got_pairs = {
            (r["id_a"], r["id_b"])
            for r in pairs_within_buckets(
                bands, ["band_idx", "band_hash"], "doc_id"
            ).collect()
        }
        model = {
            i: _model_minhash(list(dict.fromkeys(_model_tokens(" ".join(toks)))))
            for i, toks in enumerate(docs)
        }
        want_pairs = set()
        for a in model:
            for b in model:
                if a < b and any(
                    model[a][4 * k : 4 * k + 4] == model[b][4 * k : 4 * k + 4]
                    for k in range(MH_CAND_BANDS)
                ):
                    want_pairs.add((a, b))
        assert got_pairs == want_pairs
        # J=1 pairs (identical distinct token sets) must ALWAYS be candidates
        sets = {
            i: frozenset(_model_tokens(" ".join(toks))) for i, toks in enumerate(docs)
        }
        for a in sets:
            for b in sets:
                if a < b and sets[a] == sets[b]:
                    assert (a, b) in got_pairs, (a, b)

    check()


def test_md5_simhash_matches_python_model(spark):
    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(docs=_docs)
    def check(docs):
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["simhash"], [r[f"band_{k}"] for k in range(4)])
            for r in md5_simhash_buckets(df).collect()
        }
        for i, toks in enumerate(docs):
            want_sig, want_bands = _model_simhash(_model_tokens(" ".join(toks)))
            assert got[i] == (want_sig, want_bands), (i, toks)
        # identical distinct token sets -> identical signature AND bands
        sets = {
            i: frozenset(_model_tokens(" ".join(toks))) for i, toks in enumerate(docs)
        }
        for a in sets:
            for b in sets:
                if a < b and sets[a] == sets[b]:
                    assert got[a] == got[b]

    check()


@pytest.mark.parametrize(
    "n_bands,band_bits",
    [(3, 5), (LSH_ND_BANDS, LSH_ND_BAND_BITS), (1, HPLSH_ORACLE_PLANES)],
)
def test_sign_band_rows_matches_python_model(spark, n_bands, band_bits):
    """Property pin of the package's one sign-LSH banding
    (functions/vectors.py::sign_band_rows — every md5-hyperplane query
    and the persisted decon index ride it): for random vectors of a
    random dim, the Spark band rows equal a pure-Python recompute of
    the md5 sign formula with the same sequential left-fold projection
    order. Parametrized over a non-default banding and the two
    bandings the queries use: 8 bands x 3 bits (the embedding near-dup
    pairs and the loose decontamination tier) and one 16-bit band
    (hyperplane_lsh_bucket_sizes)."""
    from meshtastic_airsensor_database_spark.functions.vectors import (
        sign_band_rows,
    )

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(data=st.data())
    def check(data):
        dim = data.draw(st.integers(min_value=1, max_value=10))
        vec = st.lists(
            st.floats(min_value=-8, max_value=8, allow_nan=False, width=64),
            min_size=dim,
            max_size=dim,
        )
        vecs = data.draw(st.lists(vec, min_size=1, max_size=5))
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        ).select("vec_id", F.col("embedding").alias("_v"))
        got = {
            (r["vec_id"], r["band_idx"]): r["band_hash"]
            for r in sign_band_rows(
                df, "_v", n_bands, band_bits, dim, carry=("vec_id",)
            ).collect()
        }
        for i, v in enumerate(vecs):
            for b, want in enumerate(_model_sign_bands(v, n_bands, band_bits)):
                assert got[(i, b)] == want, (i, b, v)

    check()
