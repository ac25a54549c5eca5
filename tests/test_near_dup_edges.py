"""Degenerate inputs through the banded near-dup ladder: every family
(MinHash, SimHash, hyperplane LSH on both verify paths, image aHash)
in every form it has (batch, capped, incremental) on an empty frame,
one row, NULL / '' text (zero vectors for LSH) and five identical rows,
each checked against its DuckDB twin over the same rows. Bad banding
configs raise ValueError in every family.
"""

import duckdb
import pytest

from leann_rs_spark.operators import ann, dedup, multimodal

DIMS = 8
TEXT = "the quick brown fox jumps over the lazy dog near the river bank"
VEC = [0.5, -0.25, 0.125, 1.0, -0.75, 0.3, -0.1, 0.2]
NEW_OFF = 100  # incremental forms: the batch is the input shifted by this

INPUTS = {
    "empty": ([], []),
    "one_row": ([(1, TEXT)], [(1, VEC)]),
    "null_text": (
        [(1, None), (2, None), (3, "")],
        [(1, [0.0] * DIMS), (2, [0.0] * DIMS), (3, VEC)],
    ),
    "identical": ([(i, TEXT) for i in range(1, 6)], [(i, VEC) for i in range(1, 6)]),
}
CAP = 2  # capped forms: the five identical rows overflow every bucket

FAMILIES = {
    "minhash": ("batch", "capped", "incremental"),
    "simhash": ("batch", "capped", "incremental"),
    "lsh_expr": ("batch", "capped", "incremental"),
    "lsh_kernel": ("batch", "capped", "incremental"),
    "ahash": ("batch",),
}
CASES = [
    (fam, form, inp)
    for fam, forms in FAMILIES.items()
    for form in forms
    for inp in INPUTS
]


def _spark_rows(spark, fam, form, rows):
    if fam.startswith("lsh"):
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        kw = dict(dims=DIMS, threshold=0.9, assume_normalized=fam == "lsh_kernel")
        if form == "incremental":
            new = df.selectExpr(f"vec_id + {NEW_OFF} AS vec_id", "embedding")
            return ann.lsh_near_dups_incremental(df, new, **kw)
        cap = CAP if form == "capped" else None
        return ann.lsh_near_dups(df, max_bucket_size=cap, **kw)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    if fam == "ahash":
        return multimodal.media_ahash_near_dups(
            df.selectExpr("doc_id AS media_id", "encode(text, 'UTF-8') AS content")
        )
    if form == "incremental":
        new = df.selectExpr(f"doc_id + {NEW_OFF} AS doc_id", "text")
        if fam == "minhash":
            return dedup.minhash_near_dups_incremental(df, new, threshold=0.5)
        return dedup.simhash_near_dups_incremental(df, new)
    cap = CAP if form == "capped" else None
    if fam == "minhash":
        return dedup.minhash_near_dups(df, threshold=0.5, max_bucket_size=cap)
    return dedup.simhash_near_dups(df, max_bucket_size=cap)


def _twin_sql(fam, form):
    new_docs = f"SELECT doc_id + {NEW_OFF} AS doc_id, text FROM edge_docs"
    new_vecs = f"SELECT vec_id + {NEW_OFF} AS vec_id, embedding FROM edge_vecs"
    if fam.startswith("lsh"):
        kw = dict(threshold=0.9, assume_normalized=fam == "lsh_kernel")
        if form == "incremental":
            return ann.duckdb_lsh_near_dups_incremental(
                "SELECT * FROM edge_vecs", new_vecs, DIMS, **kw
            )
        if form == "capped":
            return ann.duckdb_lsh_near_dups_capped(
                "SELECT * FROM edge_vecs", DIMS, max_bucket_size=CAP, **kw
            )
        return ann.duckdb_lsh_near_dups("SELECT * FROM edge_vecs", DIMS, **kw)
    if fam == "ahash":
        return multimodal.duckdb_media_ahash_near_dups(
            "SELECT doc_id AS id, text AS t FROM edge_docs"
        )
    if fam == "minhash":
        if form == "incremental":
            return dedup.duckdb_minhash_near_dups_incremental(
                "SELECT * FROM edge_docs", new_docs, threshold=0.5
            )
        if form == "capped":
            return dedup.duckdb_minhash_near_dups_capped(
                table="edge_docs", threshold=0.5, max_bucket_size=CAP
            )
        return dedup.duckdb_minhash_near_dups(table="edge_docs", threshold=0.5)
    if form == "incremental":
        return dedup.duckdb_simhash_near_dups_incremental(
            "SELECT * FROM edge_docs", new_docs
        )
    if form == "capped":
        return dedup.duckdb_simhash_near_dups_capped(
            table="edge_docs", max_bucket_size=CAP
        )
    return dedup.duckdb_simhash_near_dups(table="edge_docs")


def _norm(row):
    return tuple(round(v, 9) if isinstance(v, float) else v for v in row)


@pytest.mark.parametrize(
    "fam,form,inp", CASES, ids=["-".join(c) for c in CASES]
)
def test_degenerate_input_matches_twin(spark, fam, form, inp):
    docs, vecs = INPUTS[inp]
    rows = vecs if fam.startswith("lsh") else docs
    got_df = _spark_rows(spark, fam, form, rows)
    got = sorted(_norm(r) for r in got_df.collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE edge_docs (doc_id BIGINT, text VARCHAR)")
    con.execute("CREATE TABLE edge_vecs (vec_id BIGINT, embedding DOUBLE[])")
    if docs:
        con.executemany("INSERT INTO edge_docs VALUES (?, ?)", docs)
    if vecs:
        con.executemany("INSERT INTO edge_vecs VALUES (?, ?)", vecs)
    rel = con.sql(_twin_sql(fam, form))
    want = sorted(_norm(r) for r in rel.fetchall())

    assert got_df.columns == rel.columns
    assert got == want
    if inp == "identical" and form != "capped":
        assert got, "five identical rows must pair up"
    if fam in ("simhash", "ahash") and inp == "null_text":
        # NULL and '' both sketch to 0: reported as hamming-0 pairs
        assert got == (
            [(1, 2, 0), (1, 3, 0), (2, 3, 0)] if form != "incremental"
            else [(n + NEW_OFF, c, 0) for n in (1, 2, 3) for c in (1, 2, 3)]
        )


def test_bad_band_config_raises_value_error(spark):
    docs = spark.createDataFrame([(1, TEXT)], "doc_id long, text string")
    vecs = spark.createDataFrame([(1, VEC)], "vec_id long, embedding array<double>")
    media = docs.selectExpr("doc_id AS media_id", "encode(text, 'UTF-8') AS content")
    sigs = dedup.minhash_signatures(docs)
    bad = [
        # bands must divide num_hashes / planes
        lambda: dedup.minhash_near_dups(docs, num_hashes=18, bands=4),
        lambda: dedup.minhash_near_dups_incremental(docs, docs, num_hashes=18),
        lambda: dedup.minhash_estimate_pairs(sigs, docs, num_hashes=18),
        lambda: ann.lsh_near_dups(vecs, DIMS, planes=18, bands=4),
        lambda: ann.lsh_near_dups_incremental(vecs, vecs, DIMS, planes=18),
        # pigeonhole: bands >= max_hamming + 1; packed sketch: bits <= 63
        lambda: dedup.simhash_near_dups(docs, bands=3, max_hamming=3),
        lambda: dedup.simhash_near_dups(docs, bits=64, bands=8),
        lambda: dedup.simhash_near_dups_incremental(docs, docs, bands=3),
        lambda: dedup.simhash_near_dups_incremental(docs, docs, bits=64, bands=8),
        lambda: multimodal.media_ahash_near_dups(media, bands=6),
        lambda: multimodal.audio_near_dups(media, bands=6),
        lambda: multimodal.video_near_dups(media, bands=6, engine="fake"),
        # the hot-bucket chain needs the sketch order
        lambda: dedup._banded_candidate_pairs(
            dedup._band_sigs(sigs, "doc_id", 4, 4), ["band", "bucket"],
            "doc_id", max_bucket_size=2,
        ),
    ]
    for call in bad:
        with pytest.raises(ValueError):
            call()
