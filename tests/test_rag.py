"""Batch RAG: prompt assembly, simulated LLM parity, end-to-end shape."""

import pytest
from pyspark.sql import functions as F

from leann_rs_spark.operators.embedder import DEFAULT_DIMS, hash_embedding
from leann_rs_spark.operators.rag import (
    PROMPT_TEMPLATE,
    build_prompt,
    duckdb_prompt,
    duckdb_simulated_generate,
    rag_batch,
    simulated_generate,
)
from leann_rs_spark.utils import local_frame

from conftest import SF_SMOKE


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).head()["v"]


def test_simulated_generate_question_extraction(spark):
    p = F.lit("intro\n\nQuestion: what is a shuffle?\n\nanswer please")
    out = _one(spark, simulated_generate(p))
    assert '"what is a shuffle?"' in out
    assert "I understand you're asking about" in out  # no Context:/passages


def test_simulated_generate_context_branch(spark):
    p = F.lit("Context: stuff about passages\n\nQuestion: why?\n")
    out = _one(spark, simulated_generate(p))
    assert out.startswith('Based on the provided context, here is my response to "why?"')
    assert "model: simulated" in out


def test_simulated_generate_no_question_marker(spark):
    out = _one(spark, simulated_generate(F.lit("hello")))
    assert '"your question"' in out


def test_simulated_matches_duckdb(spark, duck):
    prompts = [
        "Question: a?\nrest",
        "no marker at all",
        "Context: c\n\nQuestion: multi word q   \nmore",
        "passages are here",
    ]
    for raw in prompts:
        got = _one(spark, simulated_generate(F.lit(raw)))
        sql_lit = "'" + raw.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"
        want = duck.sql(
            f"SELECT {duckdb_simulated_generate(sql_lit)}"
        ).fetchone()[0]
        assert got == want, raw


def test_prompt_matches_duckdb(spark, duck):
    got = _one(spark, build_prompt(F.lit("[1] ctx"), F.lit("q?")))
    want = duck.sql(
        f"SELECT {duckdb_prompt(chr(39) + '[1] ctx' + chr(39), chr(39) + 'q?' + chr(39))}"
    ).fetchone()[0]
    assert got == want
    assert "{context}" in PROMPT_TEMPLATE and "{question}" in PROMPT_TEMPLATE


def _small_corpus(spark):
    passages = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("doc_id") < 50)
        .select(F.col("doc_id").alias("idx"), "text")
    )
    embeddings = passages.select(
        "idx", hash_embedding(F.col("text"), 32).alias("embedding")
    )
    return passages, embeddings


def test_rag_batch_end_to_end(spark):
    passages, embeddings = _small_corpus(spark)
    questions = spark.createDataFrame(
        [(0, "what about data"), (1, "tell me something")],
        "question_id long, question string",
    )
    out = rag_batch(questions, passages, embeddings, k=3, dims=32).collect()
    assert len(out) == 2
    by_id = {r["question_id"]: r["answer"] for r in out}
    assert all(a for a in by_id.values())
    assert '"what about data"' in by_id[0]


def test_rag_batch_no_hits_branch(spark):
    passages = spark.createDataFrame([], "idx long, text string")
    embeddings = spark.createDataFrame([], "idx long, embedding array<double>")
    questions = spark.createDataFrame([(0, "q")], "question_id long, question string")
    out = rag_batch(questions, passages, embeddings, k=3, dims=32).collect()
    assert out[0]["answer"] == "No relevant passages found."


_Q_SCHEMA = "question_id long, question string"


def _counted_questions(spark, rows):
    """A questions frame over an RDD whose map counts every row read."""
    reads = spark.sparkContext.accumulator(0)

    def tick(row):
        reads.add(1)
        return row

    rdd = spark.sparkContext.parallelize(rows, 2).map(tick)
    return spark.createDataFrame(rdd, _Q_SCHEMA), reads


@pytest.mark.parametrize("corpus", ["docs", "empty"])
@pytest.mark.parametrize("n_questions", [3, 0])
def test_rag_batch_reads_questions_once(spark, corpus, n_questions):
    """rag_batch reads the caller's questions frame once, however many
    of its own plans use it: one call plus the collect of its result
    reads each row exactly once, and the answers equal those over a
    local frame of the same rows (the no-hits branch when the corpus is
    empty; an empty questions frame answers nothing)."""
    if corpus == "docs":
        passages, embeddings = _small_corpus(spark)
    else:
        passages = local_frame(spark, [], "idx long, text string")
        embeddings = local_frame(spark, [], "idx long, embedding array<double>")
    rows = [(0, "what about data"), (1, "tell me something"), (2, "zq")][
        :n_questions
    ]
    questions, reads = _counted_questions(spark, rows)
    got = rag_batch(questions, passages, embeddings, k=3, dims=32).collect()
    assert reads.value == len(rows)
    want = rag_batch(
        local_frame(spark, rows, _Q_SCHEMA), passages, embeddings, k=3, dims=32
    ).collect()
    assert sorted(got) == sorted(want)
    assert len(got) == len(rows)
    if corpus == "empty":
        assert all(r["answer"] == "No relevant passages found." for r in got)
