"""Batch RAG pipeline (R1) + simulated LLM provider (R4).

Reference read path (/root/reference/src/cli/ask.rs:157-198): embed
query → top-k search → context = "[i] text" joined by blank lines
(:176-182) → fixed prompt template (:185-194) → llm.generate. The
Spark generalization (SURVEY §3.3) runs it over a *table of questions*:
questions → hash-embed → batch top-k → per-question context assembly →
answer generation, all as DataFrame stages.

The LLM provider here is the reference's own test strategy: the
`simulated` provider (/root/reference/src/llm/simulated.rs:17-56)
returns a deterministic canned response computed from the prompt alone
— question extracted from the text after "Question:" up to the next
newline, branch on a has-context heuristic. Being pure string logic, it
runs as native column expressions (and a DuckDB oracle twin) — no
Python in the pipeline at all. Real providers (ollama/openai/anthropic,
src/llm/mod.rs:32-63) slot in as a `mapInPandas` stage batching HTTP
calls per partition; out of scope for the no-network correctness gate.

Scale: contexts are built with array_sort(collect_list(...)) grouped by
question — one shuffle keyed on question_id over k-row groups. The heavy
stage (batch top-k) broadcasts questions and prunes per partition
(operators/search.py); everything downstream is |questions|·k rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from leann_rs_spark.operators.embedder import hash_embedding
from leann_rs_spark.operators.search import batch_search
from leann_rs_spark.utils import local_frame

# ask.rs:185-194 (verbatim template, {} slots for context / question)
PROMPT_TEMPLATE = (
    "Here is some retrieved context that might help answer your question:"
    "\n\n{context}\n\nQuestion: {question}\n\n"
    "Please provide the best answer you can based on this context and "
    "your knowledge."
)

_SIM_WITH_CONTEXT = (
    'Based on the provided context, here is my response to "{q}":\n\n'
    "The information in the documents suggests that this topic is covered "
    "in the retrieved passages. This is a simulated response for testing "
    "purposes.\n\nKey points from the context:\n"
    "1. The first relevant passage discusses the main concepts.\n"
    "2. Additional passages provide supporting information.\n"
    "3. The context contains useful details for answering your query.\n\n"
    "Note: This is a test response from the simulated LLM (model: {m})."
)

_SIM_NO_CONTEXT = (
    'I understand you\'re asking about "{q}".\n\n'
    "This is a simulated response for testing purposes. In a real "
    "scenario, I would provide a helpful answer based on my training.\n\n"
    "Note: This is a test response from the simulated LLM (model: {m})."
)


def build_prompt(context: Column, question: Column) -> Column:
    pre, mid, post = PROMPT_TEMPLATE.split("{context}")[0], *PROMPT_TEMPLATE.split(
        "{context}"
    )[1].split("{question}")
    return F.concat(F.lit(pre), context, F.lit(mid), question, F.lit(post))


def simulated_generate(prompt: Column, model_name: str = "simulated") -> Column:
    """SimulatedLlm::generate (simulated.rs:17-56) as column expressions.

    Question extraction: text after the FIRST "Question:" up to the next
    '\\n', trimmed; "your question" when the marker is absent.
    has_context: prompt contains "Context:" or "passages" (:30-31) —
    note the ask-path prompt template contains neither literal, so this
    branch is decided by the *context passages'* text, exactly as in the
    reference.
    """
    # F.get is 0-based and null-safe on out-of-bounds (vs element_at,
    # which throws under ANSI mode when "Question:" is absent)
    after = F.get(F.split(prompt, "Question:", 2), 1)
    q = F.when(after.isNull(), F.lit("your question")).otherwise(
        F.trim(F.get(F.split(after, "\n", 2), 0))
    )
    has_context = prompt.contains("Context:") | prompt.contains("passages")

    def fill(template: str) -> Column:
        pre, rest = template.split("{q}")
        mid, post = rest.split("{m}")
        return F.concat(F.lit(pre), q, F.lit(mid), F.lit(model_name), F.lit(post))

    return F.when(has_context, fill(_SIM_WITH_CONTEXT)).otherwise(
        fill(_SIM_NO_CONTEXT)
    )


def assemble_context(
    hits_with_text: DataFrame,
    question_id_col: str = "question_id",
    rank_col: str = "rank",
    text_col: str = "text",
) -> DataFrame:
    """(question_id, context): "[1] t1\\n\\n[2] t2…" (ask.rs:176-182).
    collect_list order is nondeterministic under parallel merge, so the
    (rank, text) pairs are array_sort-ed before joining."""
    return (
        hits_with_text.groupBy(question_id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(rank_col).alias("r"), F.col(text_col).alias("t")))
            ).alias("hits")
        )
        .select(
            question_id_col,
            F.array_join(
                F.transform(
                    F.col("hits"),
                    lambda h: F.concat(F.lit("["), h["r"].cast("string"), F.lit("] "), h["t"]),
                ),
                "\n\n",
            ).alias("context"),
        )
    )


def rag_batch(
    questions: DataFrame,
    passages: DataFrame,
    embeddings: DataFrame,
    k: int = 5,
    dims: int = 64,
    model_name: str = "simulated",
    question_id_col: str = "question_id",
    question_col: str = "question",
    passage_id_col: str = "idx",
    passage_text_col: str = "text",
    llm=None,
) -> DataFrame:
    """questions(question_id, question) → (question_id, question, answer).

    Questions with no hits answer "No relevant passages found."
    (ask.rs:173-175) via the left join's null context.

    `llm` (a callable prompt → answer, e.g. a providers.py client)
    replaces the native simulated-LLM expression with an Arrow-batched
    mapInPandas generation stage — the R4 network slot
    (src/llm/mod.rs:32-63): each executor talks to the service
    directly, one call per question row.

    `questions` is read once: its two columns are collected and rebuilt
    as a `local_frame`, which both the query-vector broadcast and the
    final left join then scan JVM-side. A `spark.createDataFrame`
    frame scanned twice cost one Python task per partition per scan
    (8 tasks per perfbench `ask` request). The batch search already
    broadcasts the whole questions table, so it must fit on the driver
    either way; a frame that is already local runs no job here.
    """
    questions = questions.select(question_id_col, question_col)
    questions = local_frame(
        questions.sparkSession, questions.collect(), questions.schema
    )
    qvecs = questions.select(
        question_id_col,
        question_col,
        hash_embedding(F.col(question_col), dims).alias("query_vec"),
    )
    hits = batch_search(
        embeddings,
        qvecs.select(F.col(question_id_col).alias("query_id"), "query_vec"),
        k=k,
        id_col=passage_id_col,
        vec_col="embedding",
    )
    with_text = hits.join(
        passages.select(passage_id_col, passage_text_col), passage_id_col
    ).select(
        F.col("query_id").alias(question_id_col), "rank", passage_text_col
    )
    contexts = assemble_context(
        with_text, question_id_col, "rank", passage_text_col
    )
    base = questions.join(contexts, question_id_col, "left")
    if llm is not None:
        pdf_in = base.select(
            question_id_col,
            question_col,
            F.when(
                F.col("context").isNotNull(),
                build_prompt(F.col("context"), F.col(question_col)),
            ).alias("__prompt"),
        )

        def gen(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf["answer"] = [
                    "No relevant passages found." if p is None else llm(p)
                    for p in pdf["__prompt"]
                ]
                yield pdf[[question_id_col, question_col, "answer"]]

        return pdf_in.mapInPandas(
            gen,
            schema=f"{question_id_col} long, {question_col} string, answer string",
        )
    prompted = base.select(
        question_id_col,
        question_col,
        F.when(
            F.col("context").isNull(), F.lit("No relevant passages found.")
        )
        .otherwise(
            simulated_generate(
                build_prompt(F.col("context"), F.col(question_col)), model_name
            )
        )
        .alias("answer"),
    )
    return prompted


# ---------------------------------------------------------------------------
# DuckDB oracle twin
# ---------------------------------------------------------------------------

def duckdb_simulated_generate(prompt: str, model_name: str = "simulated") -> str:
    """SQL fragment: SimulatedLlm::generate(prompt)."""

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

    after = f"(CASE WHEN contains({prompt}, 'Question:') THEN split_part({prompt}, 'Question:', 2) END)"
    q = f"(CASE WHEN {after} IS NULL THEN 'your question' ELSE trim(split_part({after}, chr(10), 1)) END)"
    has_ctx = f"(contains({prompt}, 'Context:') OR contains({prompt}, 'passages'))"

    def fill(template: str) -> str:
        pre, rest = template.split("{q}")
        mid, post = rest.split("{m}")
        return f"{lit(pre)} || {q} || {lit(mid)} || {lit(model_name)} || {lit(post)}"

    return (
        f"(CASE WHEN {has_ctx} THEN {fill(_SIM_WITH_CONTEXT)} "
        f"ELSE {fill(_SIM_NO_CONTEXT)} END)"
    )


def duckdb_prompt(context: str, question: str) -> str:
    pre = PROMPT_TEMPLATE.split("{context}")[0]
    mid, post = PROMPT_TEMPLATE.split("{context}")[1].split("{question}")

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

    return f"{lit(pre)} || {context} || {lit(mid)} || {question} || {lit(post)}"
