"""The headline query suite: pinned specs, each built then collected.

The names are pinned here rather than read from ``QuerySpec.headline`` so
that a change to the registry's flags cannot change what is measured.
Each name maps to the layer family its per-layer metrics are reported
under. Of the registry's 25 headline specs, 17 fit the run budget: every
family, both corpus builders and the job-heavy similarity specs stay, and
eight cheaper specs are left out. The DuckDB oracle answers are computed
from the same generated tables outside the timed pass and compared under
``canon_run.py``'s canonicalisation (columns sorted by name, cells
stringified, rows sorted).
"""

from __future__ import annotations

import time

PINNED = {
    "q01_pricing_summary": "plans",
    "q05_region_revenue": "plans",
    "q09_user_event_running": "plans",
    "q21_error_context_range_join": "plans",
    "q55_corpus_prep": "plans",
    "text_quality": "textops",
    "prep_text_clean": "textops",
    "catalog_build": "catalog",
    "dedup_exact": "dedup",
    "dedup_minhash_lsh_pairs": "dedup",
    "dedup_ngram_jaccard": "dedup",
    "similarity_cosine_topk": "similarity",
    "similarity_ivfpq_topk": "similarity",
    "similarity_knn_graph": "similarity",
    "similarity_knn_triangles": "similarity",
    "pipeline_corpus_build": "pipeline",
    "pipeline_corpus_build_quality": "pipeline",
}


def canon(df):
    df = df[sorted(df.columns)]
    return df.astype(str).sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_answers(queries: dict[str, str], sf_dir: str, tables: tuple[str, ...],
                   threads: int) -> dict:
    """name -> canonical DuckDB answer, or the error text."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    answers: dict = {}
    for name, sql in queries.items():
        try:
            answers[name] = canon(con.execute(sql).df())
        except Exception as exc:  # recorded as a failed check
            answers[name] = f"oracle: {exc}"[:300]
    con.close()
    return answers


def mismatch(want, got) -> str | None:
    """None when the collected frame ``got`` equals the oracle answer."""
    if isinstance(want, str):
        return want
    got = canon(got)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    if (got != want).any(axis=None):
        return "values differ"
    return None


def run_query(spark, spec, family: str, sf_dir: str, tracer) -> dict:
    """Build then collect one spec; returns timings and the result frame."""
    rec: dict = {"name": spec.name, "family": family}
    t0 = time.perf_counter()
    try:
        with tracer.span(family, spec.name, trace_id=spec.name):
            with tracer.span(family, "build"):
                df = spec.spark(spark, sf_dir)
            t1 = time.perf_counter()
            with tracer.span(family, "exec"):
                rec["result"] = df.toPandas()
        rec["build_s"] = t1 - t0
    except Exception as exc:  # a failing query is a failed op, not a crash
        rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
    rec["s"] = time.perf_counter() - t0
    return rec


if __name__ == "__main__":
    # python3 -m perfbench.headline <queries.json> <sf_dir> <threads> <out.pickle>:
    # the oracle runs in a child process so DuckDB's memory never counts in
    # the driver's peak RSS
    import json
    import pickle
    import sys

    from perfbench.tables import TABLE_NAMES
    q_path, sf_dir, threads, out_path = sys.argv[1:5]
    with open(q_path) as f:
        queries = json.load(f)
    answers = oracle_answers(queries, sf_dir, TABLE_NAMES, int(threads))
    with open(out_path, "wb") as f:
        pickle.dump(answers, f)
