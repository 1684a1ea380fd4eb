"""Dump formatted physical plans for the headline operators into
PLANS.md with scale commentary — the 'is this the plan you'd want at
100 TB' audit (pushdown, pruning, exchange count, codegen spans).

    python -m tools.explain
"""

from __future__ import annotations

import contextlib
import io
import re

COMMENT = {
    "tpch_q5": (
        "six-table join: nation/region broadcast (explicit), "
        "customer-orders-lineitem-supplier shuffle joins picked by "
        "Catalyst/AQE; one final group-by exchange."
    ),
    "extract": (
        "q_extract_spans: ONE Exchange (the spec-mandated salted "
        "repartition, on the narrow proxy rows before any payload "
        "exists, into defaultParallelism partitions — one task per "
        "core, salt bucket b placed on task b mod defaultParallelism "
        "by id, not by hash); everything after it is map-only: ONE "
        "MapInArrow that generates each document and extracts it in "
        "the same Python runner, then the sink. Scan shows ReadSchema "
        "pruned to doc_id+text."
    ),
    "q_agg": (
        "partial_ hash aggregate before the exchange (map-side "
        "combine), final after — 2-phase agg, one shuffle."
    ),
    "q_join_bcast": (
        "both dims arrive via BroadcastExchange + BroadcastHashJoin — "
        "no shuffle of the fact side for the joins; the only full "
        "exchange is the final group-by."
    ),
    "q_filter": (
        "PushedFilters reach the parquet scan; ReadSchema prunes to "
        "the 3 projected columns."
    ),
    "q_dedup_minhash": (
        "ZERO-exchange since r2: per-band minima fold over the per-row "
        "shingle array, then explode to (sid, band, bucket) — scan → "
        "filter → project/generate, all map-side. (r1 crossJoined the "
        "shingle relation bands× and shuffled it; VERDICT r1 #4.) The "
        "round-robin exchange below is the LOCAL small-file fan-out, "
        "a no-op at scale."
    ),
    "q_dedup_simhash": (
        "ZERO-exchange since r2: the 16-slot vote vector folds over "
        "each row's token array (md5 once per token) and packs bits — "
        "pure per-row HOFs, no groupBy at all. (r1 crossJoined the "
        "token relation 16× and shuffled twice; VERDICT r1 #3.)"
    ),
    "q_asof": (
        "as-of join as union + running-last: both sides unioned, one "
        "Exchange on the group key (the window partitionBy), a single "
        "running-frame Window, then the left-side filter — no range "
        "join, no per-key cross product. The right side's dedup "
        "window shares the same key so AQE can reuse the exchange."
    ),
    "resume_scan": (
        "input physically partitioned by _salt_bucket "
        "(write_bucketed_input): the committed-bucket NOT-IN appears "
        "under PartitionFilters at the scan — committed buckets are "
        "never read on resume, not read-then-dropped."
    ),
    "q_embed_topk": (
        "quantized components explode map-side; dot-product join "
        "shuffles on pos (64 keys) then aggregates (qid,cid); top-k is "
        "a bounded window per qid."
    ),
    "q_ntile": (
        "scale-safe ntile since r3: every Window node either carries a "
        "partition spec (_bkt — the per-bucket row_number, parallel) "
        "or aggregates the <=32-row per-bucket COUNT relation "
        "(bounded metadata). No unpartitioned window ever sees table "
        "rows; the old plan was one task sorting the whole customer "
        "table (VERDICT r2 #2)."
    ),
}


def grab_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # strip volatile ids for a stable committed artifact
    plan = re.sub(r"#\d+[L]?", "#x", plan)
    plan = re.sub(r"\[plan_id=\d+\]", "", plan)
    plan = re.sub(r"file:[^\],\s]+", "file:...", plan)
    return plan


def main() -> None:
    from accountant_pdf_extract_spark.plans import driver_queries
    from accountant_pdf_extract_spark.session import get_spark
    from accountant_pdf_extract_spark.sources.synth import (
        interleaved_from_documents,
    )

    sf = "/root/testdata/sf0.01"
    spark = get_spark(app="explain", master="local[4]", shuffle_partitions=8)
    qs = driver_queries.queries()

    sections = []
    sections.append(("extract", qs["q_extract_spans"](spark, sf)))
    for name in ("q_filter", "q_agg", "q_join_bcast", "q_dedup_minhash",
                 "q_dedup_simhash", "q_embed_topk", "q_asof", "tpch_q5",
                 "q_ntile"):
        sections.append((name, qs[name](spark, sf)))

    # resume pruning over a bucket-partitioned input
    import tempfile

    from pyspark.sql import functions as F

    from accountant_pdf_extract_spark.plans.job import write_bucketed_input
    from accountant_pdf_extract_spark.plans.pipeline import SALT_COL, salt

    tmp = tempfile.mkdtemp(prefix="plans_bucketed_")
    docs = interleaved_from_documents(spark, sf)
    write_bucketed_input(docs.select("doc_id", "spans"), tmp, salt_buckets=8)
    binp = spark.read.parquet(tmp)
    pruned = salt(binp, 8).where(~F.col(SALT_COL).isin([0, 1, 2, 3]))
    sections.append(("resume_scan", pruned))

    out = [
        "# PLANS — physical plans of the headline operators\n",
        "Generated by `python -m tools.explain` (sf0.01, local[4]).",
        "Volatile expr ids stripped. Each plan is annotated with why",
        "it is the shape we want at 100 TB (SURVEY.md §4).\n",
    ]
    for name, df in sections:
        out.append(f"\n## {name}\n")
        out.append(f"**Scale audit:** {COMMENT.get(name, '')}\n")
        out.append("```\n" + grab_plan(df) + "```\n")

    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
