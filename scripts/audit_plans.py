"""Physical-plan audit: assert the scale-critical plan properties hold.

Checks (each prints PASS/FAIL and the evidence lines):

1. Parquet scans get predicate pushdown + column pruning (PushedFilters,
   ReadSchema) for a filtered/projected documents query.
2. Every layout ``prepare_graph`` pins (default config, AQE on) keeps
   its hash partitioning, and a library PageRank superstep neither
   re-exchanges nor re-sorts the pinned adjacency (1 exchange per
   superstep: the vertex-sized combine).
3. Hot-path expressions run inside WholeStageCodegen.
4. The frontier join in BFS/SSSP broadcasts the (small) frontier side.

Writes the audited plans to PLANS.md. Run: python scripts/audit_plans.py
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def layout_check(step, layouts) -> tuple[bool, str]:
    """No ShuffleExchange or Sort directly above a pinned-layout scan."""
    from libgrape_lite_spark.plans.kernels import layout_scan_parents

    parents = layout_scan_parents(step, layouts)
    ok = bool(parents) and not {"ShuffleExchangeExec", "SortExec"} & set(parents)
    return ok, f"layout scans feed {parents or 'NOTHING'}"


def main() -> int:
    from pyspark.sql import functions as F

    from libgrape_lite_spark import get_spark
    from libgrape_lite_spark.functions.edges import build_graph_from_transcripts
    from libgrape_lite_spark.sources.events import events_to_transcripts

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    results: list[tuple[str, bool, str]] = []
    sections: list[tuple[str, str]] = []

    # 1. pushdown + pruning
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id", "n_chars")
    p = plan_of(q)
    pushed = re.search(r"PushedFilters: \[.*lang.*\]", p)
    # pruning keeps exactly the projected + filtered columns (3 of 5)
    pruned = re.search(r"ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>", p)
    results.append(("parquet pushdown+pruning", bool(pushed and pruned),
                    f"{pushed.group(0) if pushed else 'NO PushedFilters'} | "
                    f"{pruned.group(0) if pruned else 'NO pruned ReadSchema'}"))
    sections.append(("Filtered+projected parquet scan", p))

    # 2. the library path: prepare_graph under the default config (AQE on)
    # pins every layout hash-partitioned by its key, and PageRank's
    # superstep reads the gather layout with no Exchange or Sort above it;
    # the one exchange left per superstep is the vertex-sized combine
    from libgrape_lite_spark.operators import pagerank, wcc
    from libgrape_lite_spark.plans.kernels import (
        hash_partitioning,
        prepare_graph,
        superstep_plans,
    )

    t = events_to_transcripts(spark, SF)
    vertices, edges = build_graph_from_transcripts(t)
    vertices = vertices.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    layouts = prepare_graph(vertices, edges)
    parts = {name: hash_partitioning(df) for name, df in layouts.items()}
    unpartitioned = sorted(name for name, got in parts.items() if got is None)
    results.append(("prepare_graph: every pinned layout hash-partitioned by its key",
                    not unpartitioned,
                    ", ".join(f"{n}={g[0][0]}/{g[1]}" if g else f"{n}=NONE"
                              for n, g in sorted(parts.items()))))
    step = superstep_plans(
        spark, lambda d: pagerank(vertices, edges, max_rounds=2, driver=d)
    )[-1]
    p2 = plan_of(step)
    p2_simple = step._jdf.queryExecution().executedPlan().toString()
    ok2, ev2 = layout_check(step, layouts.values())
    n_exchange = len(re.findall(r"\(\d+\) Exchange", p2.split("== Physical Plan ==")[1]))
    results.append(("PageRank superstep (library path): gather layout not re-shuffled "
                    "or re-sorted (1 exchange: combine)",
                    ok2 and n_exchange == 1, f"{ev2}, exchanges={n_exchange}"))
    sections.append(("PageRank superstep (library path: prepare_graph, then pagerank)", p2))

    # 3. whole-stage codegen in hot path (executed plan shows *(n) spans)
    results.append(
        ("WholeStageCodegen present",
         "WholeStageCodegen" in p2_simple or "*(" in p2_simple,
         "see plan")
    )

    # 4. frontier join broadcasts the frontier
    frontier = vertices.limit(10).select(F.col("id").alias("src"))
    hop = layouts["push"].join(frontier, "src").select("dst")
    p3 = plan_of(hop)
    results.append(("small frontier broadcast join", "BroadcastHashJoin" in p3, "see plan"))
    sections.append(("BFS frontier expansion", p3))

    # 5. embedding dedup (LSH path): no cartesian / nested-loop join
    from libgrape_lite_spark.operators.dedup import dedup_embedding_cosine, dedup_minhash

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dd = dedup_embedding_cosine(emb, threshold=0.4, method="lsh")
    p4 = plan_of(dd)
    bad = ("CartesianProduct" in p4) or ("BroadcastNestedLoopJoin" in p4)
    results.append(
        ("embedding_dedup: LSH-bucketed, no CartesianProduct/BroadcastNestedLoopJoin",
         not bad, "bucketed hash joins only" if not bad else "nested-loop join found"))
    sections.append(("Embedding dedup (LSH candidates + exact-cosine verify)", p4))

    # 6. minhash near-dup verify is candidate-bounded (array_intersect per
    # candidate pair, not a co-shingle self-join aggregate)
    docs_full = spark.read.parquet(f"{SF}/documents.parquet")
    dm = dedup_minhash(docs_full, threshold=0.5, shingle_n=2)
    p5 = plan_of(dm)
    results.append(
        ("dedup_minhash: candidate-bounded verify (array_intersect on candidate pairs)",
         "array_intersect" in p5, "array_intersect in plan" if "array_intersect" in p5 else "missing"))
    sections.append(("MinHash dedup verify stage", p5))

    # 7. PIE auto-impl superstep (cogroup + Arrow kernel + min-combine) on
    # the library path: wcc(impl="auto") over prepare_graph's fragment
    # table must enter the cogroup with NO Exchange or Sort above its scan —
    # only the state side's clustering and the global min-combine shuffle
    # (2 exchanges/superstep)
    step7 = superstep_plans(
        spark, lambda d: wcc(vertices, edges, impl="auto", max_rounds=2, driver=d)
    )[-1]
    p7 = plan_of(step7)
    phys7 = p7.split("== Physical Plan ==")[1]
    ok7, ev7 = layout_check(step7, layouts.values())
    n_ex7 = len(re.findall(r"\(\d+\) Exchange", phys7))
    has_kernel = "FlatMapCoGroupsInPandas" in phys7
    results.append(
        ("PIE superstep (wcc auto, library path): fragment table not re-shuffled "
         "or re-sorted into the cogroup kernel (2 exchanges: state + combine)",
         ok7 and n_ex7 == 2 and has_kernel,
         f"{ev7}, exchanges={n_ex7}, "
         f"arrow cogroup kernel={'yes' if has_kernel else 'MISSING'}"))
    sections.append(("PIE local-fixpoint superstep (wcc auto, library path)", p7))

    # 8. banded simhash dedup: the corpus self-join must be a shuffled
    # hash join — a (mis-estimated) broadcast of the C x bands banded
    # corpus OOMs the driver at corpus scale (measured at C=1M before the
    # shuffle_hash hint), and a cartesian would be quadratic
    from libgrape_lite_spark.operators.dedup import dedup_simhash

    ds = dedup_simhash(docs_full, max_hamming=3, bits=64)
    p8 = plan_of(ds)
    phys8 = p8.split("== Physical Plan ==")[1]
    ok8 = (
        "ShuffledHashJoin" in phys8
        and "CartesianProduct" not in phys8
        and "BroadcastNestedLoopJoin" not in phys8
        and "BatchEvalPython" not in phys8  # pure JVM expressions
    )
    results.append(
        ("dedup_simhash: banded self-join is ShuffledHashJoin, no cartesian, "
         "no per-row Python (wall-times at C=1M: BENCH/runs/pipeline_*.json)",
         ok8, "shuffled hash join on (band, key)" if ok8 else "WRONG JOIN STRATEGY"))
    sections.append(("Banded SimHash dedup (candidates + bit_count verify)", p8))

    # 9. IVF ANN: centroid assignment and probe scoring are Arrow-vectorized
    # kernels (never row-at-a-time Python) — the probed queries ride the
    # scoring kernel's closure, the corpus never self-joins, and the only
    # shuffle is the final per-query top-k window
    from libgrape_lite_spark.operators.knn import knn_ivf

    ki = knn_ivf(emb, emb.where(F.col("vec_id") < 5), k=3, n_centroids=4, n_probe=2)
    p9 = plan_of(ki)
    phys9 = p9.split("== Physical Plan ==")[1]
    ok9 = (
        ("MapInPandas" in phys9 or "ArrowEvalPython" in phys9)
        and "BatchEvalPython" not in phys9
        and "CartesianProduct" not in phys9
    )
    results.append(
        ("knn_ivf: Arrow-vectorized assignment + closure-probe scoring kernel, "
         "no cartesian (wall-times at C=1M: BENCH/runs/pipeline_*.json)",
         ok9, "arrow kernels, top-k window only shuffle" if ok9
         else "row python or cartesian found"))
    sections.append(("IVF ANN probe (assign/score kernels + top-k)", p9))

    # 10. mutation layout patch, pure-removal path (merge_edges delv/del
    # with no reverse-stored survivors): broadcast anti-joins over the
    # pinned layout must preserve its partitioning — ZERO shuffle
    # Exchanges in the patch plan (the BENCH/BASELINE.md zero-shuffle
    # claim, machine-checked; BroadcastExchange of the delta-sized
    # removal sets is expected and not counted)
    from libgrape_lite_spark.mutation import _apply_removals
    from libgrape_lite_spark.session import static_plans

    with static_plans(spark):
        vids = spark.createDataFrame([(7,)], "vid long").localCheckpoint(eager=True)
        patched = _apply_removals(
            layouts["pie"].select("src", "dst", "part"), False, vids, None
        )
        p10 = plan_of(patched)
    phys10 = p10.split("== Physical Plan ==")[1]
    n_ex10 = len(re.findall(r"\(\d+\) Exchange", phys10))
    ok10 = n_ex10 == 0 and "BroadcastHashJoin" in phys10
    results.append(
        ("mutation patch (pure removal): broadcast anti-joins, zero shuffle "
         "Exchanges — pinned layout partitioning preserved",
         ok10, f"shuffle exchanges={n_ex10}, "
         f"anti-join={'broadcast' if 'BroadcastHashJoin' in phys10 else 'MISSING'}"))
    sections.append(("Mutation layout patch, pure-removal path (delv anti-joins)", p10))

    ok = True
    lines = ["# PLANS — audited physical plans (scripts/audit_plans.py)\n"]
    for name, passed, ev in results:
        ok &= passed
        print(("PASS " if passed else "FAIL ") + name + " — " + ev)
        lines.append(f"- **{'PASS' if passed else 'FAIL'}** {name} — `{ev}`")
    lines.append("")
    for title, plan in sections:
        lines.append(f"\n## {title}\n\n```\n{plan.strip()}\n```")
    Path("PLANS.md").write_text("\n".join(lines))
    print("wrote PLANS.md")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
