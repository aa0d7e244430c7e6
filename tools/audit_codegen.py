"""Codegen audit: flag catalog plans with interpreted operators.

Two ways an operator ends up interpreted:

- Any higher-order-function lambda (transform/filter/exists/aggregate/
  zip_with) is a CodegenFallback expression; ONE of them in a Project/
  Generate/Filter knocks that whole operator out of whole-stage codegen
  and its full expression tree evaluates interpreted — the round-4 UDM
  projection measured ~3x slower, and the all-pairs cosine 68x, from
  exactly this.
- A whole-stage ``*(n)`` class that Janino cannot compile (a generated
  method over the JVM's 64 KB limit) falls back to interpreted
  evaluation with only an ERROR log line, and since Spark caches only
  successful compiles, every new plan pays the failed compile again.
  The plan string looks fine; ``codegenToSeq()`` compiles every stage
  and reports a failed one with ``maxMethodCodeSize`` -1.  The audit
  session runs with AQE off, so plans with an exchange show their
  codegen stages before execution (an adaptive plan inserts them only
  when its query stages materialize).

Run per-round after adding operators:

    python tools/audit_codegen.py [sf_dir]

Known-accepted findings (Python-by-design paths and the higher-order-
function capability demos themselves) are listed in ACCEPTED; anything
else is a regression worth a look.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# mapInPandas / pcap / datasource Python paths, and the entries whose
# PURPOSE is demonstrating higher-order functions — interpreted by
# design, with the fan-out bounded or the data Python-side anyway.
ACCEPTED = {
    "l3_ann_ivf_topk",  # candidate scoring folds on a pruned cell subset
    "l3_ann_ivf_index_topk",  # same scoring fold, over the partition-pruned index scan
    "l3_ann_lsh_topk",  # candidate scoring folds on bucket candidates
    "l3_ann_recall_eval",  # same zip_with cosine folds, exact + ANN sides
    "l3_cosine_topk",  # 1-row broadcast query; fold over N rows is bounded
    "l4_lang_quality",  # per-row stopword filter on a small table
    "l4_token_stats",  # same stopword filter
    "l5_feature_extract",  # mapInPandas (Arrow) by design
    "p9b_higher_order",  # the higher-order-function capability itself
    "p10b_map_transforms",  # same, for maps
    "s4_pcap_ingest",  # Python struct decoder by design
    "udm_per_file_metrics",  # UDM ttl-error islet (narrow, by design)
    "udm_projection",  # UDM ttl-error islet (narrow, by design)
    "l2_simhash_clusters",  # label-propagation loop reuses accepted parts
    "s10_python_datasource",  # Python data source by design
    "l2_semantic_dedup",  # ivf._assign centroid fold (16 broadcast cells)
    "l3_ann_ivfpq_topk",  # same ivf._assign fold feeding the cell probe
    "l4_rrf_fusion",  # composes l3_cosine_topk, inheriting its accepted fold
    "l3_ann_sq8_topk",  # l3_cosine_topk's 1-row-query fold, over reconstructions
    "l3_mips_norm_prune",  # same 1-row-query fold; norm fold is index-time at scale
    "l3_ann_ivf_index_upsert",  # l3_ann_ivf_index_topk's scoring fold, post-upsert
    "l3_ann_ivf_index_delete",  # same scoring fold, post-delete
    # the per-doc gram-hash array is a higher-order projection evaluated
    # once per DOC behind a cache barrier (5k rows at sf0.1); the
    # positional bound itself is an Arrow-batched pandas UDF, and the
    # candidate-side filters stay whole-stage codegen
    "l2_fuzzy_title_join",
}

# Entries allowed to contain a CartesianProduct node.  (Broadcast 1-row
# stats crossJoins plan as BroadcastNestedLoopJoin, not
# CartesianProduct, so this set should stay empty.)
CARTESIAN_ACCEPTED: set = set()


def main() -> int:
    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("audit-codegen")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    findings: list[str] = []
    largest: list[tuple[int, str]] = []
    for name, spec in sorted(registry().items()):
        try:
            qe = spec.spark_fn(spark, sf_dir)._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            stages = qe.debug().codegenToSeq()
            sizes = [stages.apply(i)._3().maxMethodCodeSize() for i in range(stages.size())]
        except Exception as e:  # noqa: BLE001 - audit must not stop on one entry
            print(f"SKIP {name}: {str(e)[:80]}")
            continue
        if -1 in sizes:
            msg = f"REGRESSION {name}: {sizes.count(-1)} of {len(sizes)} codegen stages fail to compile"
            print(msg)
            findings.append(msg)
        elif sizes:
            largest.append((max(sizes), name))
        interpreted = [
            line.lstrip(" +-:").split(" ")[0].split("[")[0]
            for line in plan.splitlines()
            if line.lstrip(" +-:").startswith(("Project", "Generate", "Filter"))
            and "lambdafunction" in line
        ]
        if interpreted:
            tag = "accepted" if name in ACCEPTED else "REGRESSION"
            msg = f"{tag} {name}: interpreted {interpreted}"
            print(msg)
            if tag == "REGRESSION":
                findings.append(msg)
        # unguarded cartesian audit: every crossJoin in the catalog must
        # be a 1-row/broadcast-small stats join; a plain CartesianProduct
        # over two real relations is the 100 TB query-killer
        if "CartesianProduct" in plan and name not in CARTESIAN_ACCEPTED:
            msg = f"REGRESSION {name}: CartesianProduct in physical plan"
            print(msg)
            findings.append(msg)
    spark.stop()
    for size, name in sorted(largest, reverse=True)[:5]:
        print(f"largest generated method: {size} bytes in {name}")
    print(f"\n{len(findings)} unaccepted interpreted plans")
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
