"""End-to-end training-corpus preparation orchestrator.

The reference's orchestration idiom (INGESTION_CODE_GENERATORS — chain
procedures, return a status envelope with an audit log,
Ingestion_Pipeline_Agent.sql:19-57) applied to the training-data
extensions: clean → split → chunk → budget as one chained pipeline
with the same SUCCESS/FAILED envelope shape.

Stage order is load-bearing at scale (documented per operator):
filter/dedup FIRST (shrinks the corpus before anything shuffles or
grows), split SECOND (rows, not chunks, get split — chunks of one
document must never straddle train/test: that's a leakage bug), chunk
LAST (the only data-growing stage).
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

AGENT_NAME = "CorpusPrepAgent"


def prepare_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.75,
    languages: tuple[str, ...] = ("en",),
    split_weights: dict[str, float] | None = None,
    chunk_tokens: int = 256,
    chunk_overlap: int = 32,
    seed: str = "split",
) -> dict[str, Any]:
    """Run clean → split → chunk → budget; return the reference-shaped
    envelope with per-stage row counts and the audit log.

    ``cleaned`` is the split corpus, materialised once by an eager
    ``localCheckpoint`` (fresh per call: a ``cache()`` would match the
    same plan across calls and serve stale rows if the source changed),
    so the counts here and the caller's next stage scan it instead of
    rerunning the clean plan. ``chunks`` and ``budget`` are lazy
    DataFrames over it.

    The chunk count comes from the same aggregate as the split counts:
    each document adds ``ceil(t / (chunk_tokens - chunk_overlap))``
    chunks, ``t`` its non-empty token count
    (:func:`operators.corpus.chunk_count_sql`), so ``chunks`` is never
    run here. A call is 6 Spark jobs; the plans are SQL text, a few
    hundred py4j round trips in all.
    """
    from ..operators.corpus import (
        assign_split,
        chunk_count_sql,
        chunk_documents,
        clean_corpus,
        token_budget,
    )

    start = _dt.datetime.now(_dt.timezone.utc)
    try:
        n_raw = df.count()
        cleaned = clean_corpus(
            df, text_col=text_col, id_col=id_col,
            min_quality=min_quality, languages=languages,
        )
        split = assign_split(
            cleaned, id_col=id_col, weights=split_weights, seed=seed
        ).localCheckpoint()
        chunks = chunk_documents(
            split, text_col=text_col, id_col=id_col,
            chunk_tokens=chunk_tokens, overlap=chunk_overlap,
        )
        budget = token_budget(split, group_cols=("detected_lang", "split"))
        n_chunk = chunk_count_sql(text_col, chunk_tokens, chunk_overlap)
        rows = split.groupBy("split").agg(
            F.expr("count(1) AS n"), F.expr(f"sum({n_chunk}) AS n_chunks")
        ).collect()
        split_counts = {r["split"]: r["n"] for r in rows}
        n_clean = sum(split_counts.values())
        n_chunks = sum(r["n_chunks"] for r in rows)
        end = _dt.datetime.now(_dt.timezone.utc)
        return {
            "status": "SUCCESS",
            "stages": {
                "raw_documents": n_raw,
                "cleaned_documents": n_clean,
                "kept_fraction": round(n_clean / max(n_raw, 1), 4),
                "chunks": n_chunks,
            },
            "split_counts": split_counts,
            "cleaned": split,
            "chunks": chunks,
            "budget": budget,
            "audit_log": {
                "agent_name": AGENT_NAME,
                "start_time": start.isoformat(),
                "end_time": end.isoformat(),
                "duration_seconds": round((end - start).total_seconds(), 4),
            },
        }
    except Exception as exc:  # noqa: BLE001 — error envelope (X7)
        return {"status": "FAILED", "error": str(exc), "agent_name": AGENT_NAME}
