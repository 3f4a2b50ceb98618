"""Post-retrieval LLM generation seam (the ``ai_generate`` stage).

The reference pipes retrieval output into an LLM as a *downstream
consumer*: ``estimate_time.py:30-78`` reads the saved vector-query
results, assembles a single instruction prompt ("You are an expert …
# Function Documentation … # Relevant Code and Context …"), and POSTs
it to a chat API. SURVEY §2.5 scopes the chat call itself out of the
engine, but the *seam* — a typed stage that turns retrieval rows into
prompts and prompts into generations — belongs in the engine, exactly
like the embedder seam in ``embeddings.py``:

* the model client is an **injectable** ``Callable[[list[str]],
  list[str]]`` (batch of prompts → batch of generations). Tests and
  this container inject :func:`fake_generator`; production injects a
  real client (:func:`http_chat_generator` raises
  ``NotImplementedError`` here — no network / client lib in the
  container — mirroring ``sentence_transformer_embedder``).
* the hot path is an Arrow-batched ``pandas_udf`` — ONE client call
  per Arrow batch, never per row, so at 100 TB a corpus-wide
  generation pass (summaries, quality rationales, synthetic QA) is
  data-parallel across executors with batched inference.
* generation is nondeterministic by nature, so nothing here is in
  ``queries()``/``oracle_sql()``; the contract is pytest-verified with
  the deterministic fake (same policy as the embedder seam).
"""
from __future__ import annotations

import hashlib
from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

__all__ = [
    "fake_generator",
    "http_chat_generator",
    "generate_udf",
    "ai_generate",
    "assemble_context",
    "rag_prompt",
    "format_report",
]

#: Instruction frame mirrored from the reference's prompt assembly
#: (estimate_time.py:34-45): a role line, the user's question under a
#: heading, retrieved context under a heading, then the ask.
PROMPT_TEMPLATE = (
    "You are an expert software developer.\n\n"
    "# Question:\n{question}\n\n"
    "# Relevant Code and Context from the Repository:\n{context}\n\n"
    "Answer the question using the repository context above."
)


def fake_generator() -> Callable[[list[str]], list[str]]:
    """Deterministic stand-in client: echoes a stable digest + prompt
    head. Lets every test assert exact output without a model."""

    def generate(prompts: list[str]) -> list[str]:
        return [
            "FAKE[" + hashlib.sha1(p.encode()).hexdigest()[:8] + "] "
            + p[:40].replace("\n", " ")
            for p in prompts
        ]

    return generate


def http_chat_generator(
    model: str = "gpt-4o-mini", **_kwargs
) -> Callable[[list[str]], list[str]]:
    """Real chat-API client behind the same batch interface — a
    per-process lazy seam like ``sentence_transformer_embedder``
    (embeddings.py). No chat client library or network egress exists in
    this container, so constructing the callable succeeds but the first
    call raises with injection instructions (contract-tested)."""

    def generate(prompts: list[str]) -> list[str]:
        raise NotImplementedError(
            "no chat-API client is available in this environment; "
            "inject fake_generator() or your own "
            "generate(prompts)->list[str] callable instead"
        )

    return generate


def generate_udf(generator: Callable[[list[str]], list[str]] | None = None):
    """Arrow-batched generation UDF: string prompt column → string.

    Each Arrow batch (``spark.sql.execution.arrow.maxRecordsPerBatch``
    rows) becomes ONE ``generator(prompts)`` call — batched inference,
    the same shape as ``embed_column``."""
    gen = generator or fake_generator()

    @pandas_udf("string")
    def _generate(prompts: pd.Series) -> pd.Series:
        out = gen(["" if p is None else p for p in prompts.tolist()])
        return pd.Series(list(out), dtype="object")

    return _generate


def ai_generate(
    df: DataFrame,
    prompt_col: str | Column = "prompt",
    out_col: str = "generation",
    generator: Callable[[list[str]], list[str]] | None = None,
) -> DataFrame:
    """Append an LLM generation column — the ``ai_generate``-style
    operator. Works on any DataFrame with a prompt column: per-document
    corpus passes (summarize/classify/synthesize at scale) and the
    one-row RAG answer path both route through here."""
    col = F.col(prompt_col) if isinstance(prompt_col, str) else prompt_col
    return df.withColumn(out_col, generate_udf(generator)(col))


def assemble_context(
    results: DataFrame,
    *,
    text_col: str = "content",
    path_col: str = "path",
    score_col: str = "score",
    max_chars_per_result: int = 2000,
) -> DataFrame:
    """Fold top-k retrieval rows into ONE context string, in-plan.

    Mirrors the reference's saved-results format (query_vector_db.py
    writes ``Result N (score=…): path`` blocks that estimate_time.py
    pastes under its context heading) without a driver collect: each
    row renders to a block, blocks aggregate with ``collect_list`` over
    a (score desc, path) sort — a one-row aggregate of an already-tiny
    top-k frame. Returns DataFrame(context string, n_results)."""
    block = F.format_string(
        "Result (score=%s): %s\n%s",
        F.round(F.col(score_col).cast("double"), 4).cast("string"),
        F.col(path_col),
        F.substring(F.col(text_col), 1, max_chars_per_result),
    )
    ranked = results.select(
        # negated score: array_sort is ascending, so sorting on -score
        # (path tie-break) yields best-first, matching the reference's
        # result ordering
        F.struct(
            (-F.col(score_col).cast("double")).alias("_negs"),
            F.col(path_col).cast("string").alias("_p"),
            block.alias("_block"),
        ).alias("_r")
    )
    return ranked.agg(
        F.concat_ws(
            "\n\n",
            F.array_sort(F.collect_list("_r")).getField("_block"),
        ).alias("context"),
        F.count("*").alias("n_results"),
    )


def format_report(generation_json: str) -> str:
    """Render a generation's JSON payload as the reference's markdown
    estimate report (``format_output``, estimate_time.py:105-153) —
    the one downstream-consumer surface SURVEY §2.5 left open.

    Behavior parity, independently implemented: the same section order
    (Time Estimate / Complexity / Key Factors / Potential Challenges /
    Implementation Tasks with per-task ``### name (hours)`` headers and
    a summed total), and the same graceful degradation — unparseable
    JSON or a missing key returns an error preamble plus the raw
    response instead of raising, because a malformed LLM reply is an
    expected input, not a crash."""
    import json

    try:
        data = json.loads(generation_json)
        lines = ["# Implementation Time Estimate Report\n"]
        te = data["time_estimate"]
        lines += [
            "## Time Estimate",
            f"- **Range**: {te['min_hours']} to {te['max_hours']} hours",
            f"- **Confidence**: {te['confidence']}",
            "",
            "## Complexity",
            f"- **Assessment**: {data['complexity']}",
            "",
            "## Key Factors",
        ]
        lines += [f"- {factor}" for factor in data["key_factors"]]
        lines += ["", "## Potential Challenges"]
        lines += [f"- {ch}" for ch in data["potential_challenges"]]
        lines += ["", "## Implementation Tasks"]
        total = 0
        for task in data["tasks"]:
            lines += [
                f"### {task['name']} ({task['hours']} hours)",
                f"{task['description']}",
                "",
            ]
            total += task["hours"]
        lines.append(f"**Total Hours (Sum of Tasks)**: {total}")
        return "\n".join(lines)
    except (json.JSONDecodeError, TypeError):
        return (
            "Error: Could not parse LLM response as JSON.\n\n"
            "Raw response:\n" + generation_json
        )
    except KeyError as e:
        return (
            f"Error: Missing key in JSON response: {e}.\n\n"
            "Raw response:\n" + generation_json
        )


def rag_prompt(question: str) -> Column:
    """Column expression rendering PROMPT_TEMPLATE over a ``context``
    column for a fixed question string."""
    head, _, rest = PROMPT_TEMPLATE.partition("{question}")
    mid, _, tail = rest.partition("{context}")
    return F.concat(
        F.lit(head), F.lit(question), F.lit(mid), F.col("context"),
        F.lit(tail),
    )
