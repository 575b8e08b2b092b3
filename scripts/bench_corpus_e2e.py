#!/usr/bin/env python
"""Corpus-assembly flagship at sf1 (r11 verdict task #4's bench leg).

Runs q_corpus_assembly_e2e's composition on the 50k-doc sf1 fixture
(make_sf1 tiles sf0.1 10x with text verbatim — a heavily-duplicated
crawl, the adversarial input for the dedup stages) and produces the STAGE
AUDIT the verdict asks for: each pipeline stage is driven incrementally
(cleaned -> neardeduped -> capped -> scored -> sampled -> packed), and for
each increment the probe records wall seconds, the Spark stages it added,
their total shuffle-read bytes, and the per-task skew bound from the
status store (scripts/stage_audit.py). "No new shuffles beyond the
components' own" is then checkable line by line: every exchange in the
audit belongs to a named component (WARC record walk / paragraph + exact
dedup windows / LSH band self-join / components loop / source-partitioned
cap window / PageRank loop / 3-row rate broadcast / prefix-scan packing),
and the JSON records which increment it appeared in.

Prints ONE JSON line; merged into BENCH_sf1.json as "corpus_assembly_e2e".
Nonzero exit on a material skew violation (same floor as the hub probe).

Usage: python scripts/bench_corpus_e2e.py [fixture_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stage_audit  # noqa: E402
from make_sf1 import make_sf1  # noqa: E402

# profile stages down to 1 MB of task shuffle read; a violation needs a
# straggler above 16 MB as well (the hub probe's materiality floor)
MIN_READ = 1 * 1024 * 1024
FLOOR = 16 * 1024 * 1024


def main() -> int:
    from timing_explorer_spark.operators.dedup import release_cached
    from timing_explorer_spark.plans.text_pipeline import corpus_assembly_stages
    from timing_explorer_spark.session import get_spark

    fixture = sys.argv[1] if len(sys.argv) > 1 else make_sf1()
    spark = get_spark(app_name="timing-explorer-spark-corpus-e2e", extra_conf=stage_audit.RETAIN)
    spark.sparkContext.setLogLevel("WARN")

    audit_rows: list[dict] = []
    violations: list[dict] = []
    counts: dict[str, int] = {}

    def drive(name: str, action) -> None:
        since = stage_audit.mark(spark)
        t0 = time.monotonic()
        counts[name] = action()
        wall = round(time.monotonic() - t0, 3)
        audit = stage_audit.audit(stage_audit.stages(spark, since), min_read=MIN_READ, floor=FLOOR)
        violations.extend({"stage": name, **k} for k in audit["violations"])
        audit_rows.append(
            {
                "pipeline_stage": name,
                "rows": counts[name],
                "wall_sec": wall,
                "spark_stages_added": audit["stages"],
                "shuffle_read_bytes": audit["shuffle_read_bytes"],
                "shuffle_write_bytes": audit["shuffle_write_bytes"],
                "worst_task_skew": audit["worst_task_skew"],
            }
        )
        print(f"# {name}: {counts[name]} rows in {wall}s "
              f"(+{audit['stages']} stages)", file=sys.stderr)

    # plan CONSTRUCTION is itself a heavy phase: the LSH band index
    # materializes, the components loop runs to fixpoint, and the PageRank
    # + approx-threshold sketches collect their literals inside the
    # builders — audit it as its own entry so those exchanges are
    # attributed, not silently pre-run before the per-stage deltas
    holder: dict = {}

    def construct() -> int:
        holder.update(corpus_assembly_stages(spark, fixture))
        return 0

    drive("construct_lsh_components_pagerank_sketches", construct)
    st = holder
    # incremental drive: each count() materializes one more pipeline stage;
    # lazy localCheckpoints pin the boundary so later stages reuse, not
    # recompute, the earlier work — the audit's stage deltas are therefore
    # exactly each component's own exchanges
    drive("cleaned", lambda: st["cleaned"].count())
    drive("neardeduped", lambda: st["neardeduped"].count())
    drive("capped", lambda: st["capped"].count())
    drive("scored", lambda: st["scored"].count())
    drive("sampled", lambda: st["sampled"].count())
    drive("packed", lambda: st["packed"].count())
    release_cached()

    # warm end-to-end wall: the whole composition again in one action
    t0 = time.monotonic()
    st2 = corpus_assembly_stages(spark, fixture)
    n_packed = st2["packed"].count()
    warm = round(time.monotonic() - t0, 3)
    release_cached()
    assert n_packed == counts["packed"]

    out = {
        "metric": "corpus_assembly_e2e",
        "sf": 1,
        "fixture": fixture,
        "stage_audit": audit_rows,
        "cold_total_sec": round(sum(a["wall_sec"] for a in audit_rows), 3),
        "warm_e2e_sec": warm,
        "rows": counts,
        "skew_bound": stage_audit.SKEW_BOUND,
        "violations": violations,
    }
    print(json.dumps(out))
    return 1 if violations else 0


if __name__ == "__main__":
    sys.exit(main())
