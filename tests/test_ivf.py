"""IVF ANN invariants (operators/ivf.py).

No SQL oracle can express the k-means training, so correctness rests
on three checkable properties instead:

1. **Full probe degenerates to exact brute force** — probing every
   cell must reproduce the brute-force cosine top-k exactly (same
   ids, sims, ranks).  This validates assignment, scoring, and
   ranking end-to-end; only the *pruning* is then approximate.
2. **Determinism** — two independent runs (fresh plans, fresh
   k-means) return identical rows; the decimal-sum centroid update
   and lowest-vec_id init leave no float-association or RNG slack.
3. **Recall floor** — at the default 4-of-16 probe, top-10 recall
   vs brute force stays above 0.5 on the test corpus (the documented
   accuracy/cost dial; exact value is corpus-dependent).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.operators.ivf import ivf_topk
from chronicle_sniffer_spark.operators.similarity import as_double, cosine
from chronicle_sniffer_spark.tables import load_table

SF = "/root/testdata/sf0.001"
QUERY, K = 0, 10


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def _brute_topk(emb, query_vec_id: int, k: int):
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    qv = vecs.filter(F.col("vec_id") == query_vec_id).collect()[0].v
    qcol = F.array(*[F.lit(x) for x in qv])
    scored = vecs.filter(F.col("vec_id") != query_vec_id).select(
        "vec_id", F.round(cosine(F.col("v"), qcol), 6).alias("sim")
    )
    topk = scored.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w))


def test_full_probe_equals_brute_force(emb):
    full = ivf_topk(emb, QUERY, K, n_centroids=8, n_iter=2, n_probe=8)
    brute = _brute_topk(emb, QUERY, K)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, brute.collect()))


def test_deterministic_across_runs(emb):
    a = sorted(map(tuple, ivf_topk(emb, QUERY, K).collect()))
    b = sorted(map(tuple, ivf_topk(emb, QUERY, K).collect()))
    assert a == b


def test_default_probe_recall_floor(emb):
    got = {r.vec_id for r in ivf_topk(emb, QUERY, K).collect()}
    want = {r.vec_id for r in _brute_topk(emb, QUERY, K).collect()}
    assert len(got & want) / K >= 0.5


def test_unknown_query_raises(emb):
    with pytest.raises(KeyError):
        ivf_topk(emb, -12345, K)


def test_probe_filter_prunes_partitions(emb, tmp_path):
    """The probe step is an IN filter on cell id; ivf.py claims that
    filter is partition-prunable.  Prove it: materialize the cell
    assignment as a cid-partitioned table (the on-disk layout a 100 TB
    IVF index would use), re-read it with a probe-style IN filter, and
    assert the scan (a) carries the cids as PartitionFilters and
    (b) touches only the probed cids' files."""
    from chronicle_sniffer_spark.operators.ivf import (
        N_CENTROIDS,
        _assign,
        _centroid_df,
        train_centroids,
    )

    spark = emb.sparkSession
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    centroids = train_centroids(emb)
    assigned = _assign(vecs, _centroid_df(spark, centroids))
    out = str(tmp_path / "ivf_index")
    assigned.write.partitionBy("cid").mode("overwrite").parquet(out)

    probe = [0, 3]
    scan = spark.read.parquet(out).filter(F.col("cid").isin(probe))
    plan = spark._jvm.PythonSQLUtils.explainString(scan._jdf.queryExecution(), "formatted")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cid" in pf[0], f"no partition filter in scan:\n{plan}"

    def scan_partitions(df) -> int:
        """numPartitions metric of the executed FileSourceScan."""
        df.collect()
        jvm = spark._jvm

        def walk(node):
            if node.nodeName().strip().startswith("Scan parquet"):
                jm = jvm.scala.collection.JavaConverters.mapAsJavaMap(node.metrics())
                for k in jm.keySet():
                    if str(k) == "numPartitions":
                        return jm[k].value()
            for i in range(node.children().size()):
                got = walk(node.children().apply(i))
                if got is not None:
                    return got
            return None

        return walk(df._jdf.queryExecution().executedPlan())

    pruned = scan_partitions(scan)
    total = scan_partitions(spark.read.parquet(out))
    assert pruned == len(probe), f"probe read {pruned} partitions, wanted {len(probe)}"
    assert total > len(probe), f"index only has {total} cells — pruning not meaningful"
    # behavioral check: only probed cells' rows survive
    assert {r.cid for r in scan.select("cid").distinct().collect()} == set(probe)


def test_materialized_index_matches_inline(emb, tmp_path):
    """ivf_index_write + ivf_topk_from_index reproduce the inline
    ivf_topk results exactly (same centroids, same probe, same
    ranking) — the served-index path is the same operator."""
    from chronicle_sniffer_spark.operators.ivf import (
        ivf_index_write,
        ivf_topk,
        ivf_topk_from_index,
    )

    spark = emb.sparkSession
    idx = str(tmp_path / "index")
    ivf_index_write(emb, idx)
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    qv = list(vecs.filter(F.col("vec_id") == QUERY).collect()[0].v)
    served = ivf_topk_from_index(spark, idx, qv, K)
    # inline path includes the query vector's own exclusion; served
    # path scores every vector in the probed cells, including the
    # query itself (rank 1, sim 1.0) — drop it for comparison
    served_rows = [
        (r.vec_id, r.sim) for r in served.collect() if r.vec_id != QUERY
    ]
    inline_rows = [(r.vec_id, r.sim) for r in ivf_topk(emb, QUERY, K).collect()]
    assert served_rows == inline_rows[: len(served_rows)]


def _cell_files(cells_dir: str) -> dict[str, tuple]:
    """path -> (size, mtime_ns) for every parquet data file under the
    cid-partitioned cells layout."""
    import os

    out = {}
    for root, _dirs, files in os.walk(cells_dir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_upsert_index_equals_full_assignment(emb, tmp_path):
    """Build on 80%, upsert 20%: the merged cells must equal a
    from-scratch assignment of the FULL corpus to the base-trained
    centroids — the full-rebuild-equivalence contract (centroids stay
    fixed; upsert is serving-time maintenance, not retraining)."""
    from chronicle_sniffer_spark.operators.ivf import (
        _assign,
        ivf_index_upsert,
        ivf_index_write,
    )

    spark = emb.sparkSession
    idx = str(tmp_path / "index")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    ivf_index_write(base, idx)
    touched = ivf_index_upsert(spark, idx, delta)
    assert touched, "delta landed in no cell"

    from chronicle_sniffer_spark.operators.ivf import ivf_read_cells

    merged = ivf_read_cells(spark, idx)
    cent = spark.read.parquet(f"{idx}/centroids")
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    full = _assign(vecs, cent)
    key = lambda r: (r.vec_id, r.cid, tuple(r.v))  # noqa: E731
    assert sorted(map(key, merged.collect())) == sorted(map(key, full.collect()))


def test_upsert_touches_only_assigned_partitions(emb, tmp_path):
    """Cells the delta does not land in (and that hold none of the
    incoming vec_ids) must be byte-identical after the upsert — the
    dynamic-partition overwrite never lists, reads, or rewrites
    them."""
    from chronicle_sniffer_spark.operators.ivf import (
        ivf_index_upsert,
        ivf_index_write,
    )

    from chronicle_sniffer_spark.operators.ivf import ivf_read_cells
    from chronicle_sniffer_spark.streaming import manifest as mf

    spark = emb.sparkSession
    idx = str(tmp_path / "index")
    ivf_index_write(emb, idx)
    # a deliberately CLUSTERED delta — three new vec_ids copying one
    # existing cell's vector, so they land in exactly that cell (a
    # uniform 20% delta would touch all 16 cells at this corpus size
    # and leave nothing to assert)
    seed = ivf_read_cells(spark, idx).orderBy("vec_id").first()
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    delta = spark.createDataFrame(
        [(max_id + 1 + i, list(seed.v)) for i in range(3)],
        "vec_id bigint, embedding array<double>",
    )
    before = _cell_files(f"{idx}/data")
    map_before = dict(mf.read_manifest(idx)["buckets"])
    touched = ivf_index_upsert(spark, idx, delta)
    assert touched == [seed.cid]
    after = _cell_files(f"{idx}/data")
    map_after = dict(mf.read_manifest(idx)["buckets"])

    # untouched cells keep serving from their ORIGINAL paths (the
    # write-once protocol: nothing they reference was rewritten) ...
    for b, entry in map_before.items():
        if int(b) not in touched:
            assert map_after[b] == entry, f"untouched cell {b} remapped"
    assert map_after[str(seed.cid)] != map_before[str(seed.cid)]
    # ... and every pre-existing data file is byte-identical
    for p, v in before.items():
        assert after.get(p) == v, f"write-once violated: {p}"


def test_upsert_replaces_changed_vector_and_moves_cells(emb, tmp_path):
    """Re-upserting an EXISTING vec_id with a different vector must
    replace the old row (no duplicate) and move it to its new cell,
    rewriting the old cell too."""
    from chronicle_sniffer_spark.operators.ivf import (
        _assign,
        ivf_index_upsert,
        ivf_index_write,
    )

    from chronicle_sniffer_spark.operators.ivf import ivf_read_cells

    spark = emb.sparkSession
    idx = str(tmp_path / "index")
    ivf_index_write(emb, idx)
    cells = ivf_read_cells(spark, idx)
    victim = cells.orderBy("vec_id").first()
    # replace the victim's vector with another cell's centroid-ish
    # vector: any OTHER existing vector guarantees a valid embedding
    donor = cells.filter(F.col("cid") != victim.cid).orderBy("vec_id").first()
    changed = spark.createDataFrame(
        [(victim.vec_id, list(donor.v))], "vec_id bigint, embedding array<double>"
    )
    touched = ivf_index_upsert(spark, idx, changed)
    assert victim.cid in touched, "old cell not rewritten"
    merged = ivf_read_cells(spark, idx)
    rows = merged.filter(F.col("vec_id") == victim.vec_id).collect()
    assert len(rows) == 1, "upsert duplicated an existing vec_id"
    assert list(rows[0].v) == list(donor.v)
    cent = spark.read.parquet(f"{idx}/centroids")
    expected_cid = _assign(
        changed.select("vec_id", as_double(F.col("embedding")).alias("v")), cent
    ).collect()[0].cid
    assert rows[0].cid == expected_cid


def test_upsert_drained_cell_is_deleted(emb, tmp_path):
    """When an upsert moves EVERY row out of a cell and no delta lands
    there, the drained cell must leave the bucket map IN THE SAME
    manifest flip that publishes the rewrite — no reader can ever
    resolve a path to its stale rows, and a moved vec_id can never
    serve from two cells at once (the round-11 layout deleted the
    directory AFTER a separate overwrite commit, leaving exactly that
    window)."""
    from chronicle_sniffer_spark.operators.ivf import (
        ivf_index_upsert,
        ivf_index_write,
        ivf_read_cells,
    )
    from chronicle_sniffer_spark.streaming import manifest as mf

    spark = emb.sparkSession
    idx = str(tmp_path / "index")
    ivf_index_write(emb, idx)
    cells = ivf_read_cells(spark, idx)
    # pick the smallest cell and move ALL its vectors to another
    # cell's vector — the source cell drains completely
    sizes = cells.groupBy("cid").count().orderBy("count", "cid").collect()
    victim_cid = sizes[0].cid
    donor = cells.filter(F.col("cid") != victim_cid).orderBy("vec_id").first()
    movers = cells.filter(F.col("cid") == victim_cid).select("vec_id").collect()
    delta = spark.createDataFrame(
        [(r.vec_id, list(donor.v)) for r in movers],
        "vec_id bigint, embedding array<double>",
    )
    touched = ivf_index_upsert(spark, idx, delta)
    assert victim_cid in touched, "drained cell not in touched set"
    assert victim_cid not in mf.bucket_epochs(
        mf.read_manifest(idx)
    ), "drained cell still mapped in the published manifest"
    merged = ivf_read_cells(spark, idx)
    assert merged.filter(F.col("cid") == victim_cid).count() == 0
    dupes = (
        merged.groupBy("vec_id").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0, "a moved vec_id exists in two cells"
    # every mover now serves from the donor's cell with the new vector
    moved = merged.filter(
        F.col("vec_id").isin([r.vec_id for r in movers])
    ).collect()
    assert len(moved) == len(movers)
    assert all(r.cid == donor.cid and list(r.v) == list(donor.v) for r in moved)
    # the stale directory may remain on disk (commit=0 is still
    # referenced by untouched cells; prune() reclaims whole commit
    # dirs once nothing references them) — what matters is that NO
    # manifest path resolves to it
    m = mf.read_manifest(idx)
    paths = mf.bucket_paths(idx, m)
    assert all(f"bucket={victim_cid}" not in p for p in paths)
    # prune keeps every referenced dir: the store still reads whole
    mf.prune(idx, keep_last=1)
    assert ivf_read_cells(spark, idx).count() == merged.count()


def test_upsert_crash_before_commit_serves_old_snapshot(
    emb, tmp_path, crash_before_commit
):
    """Crash injection between the epoch-dir data write and the
    manifest flip (the window the round-11 dynamic-overwrite layout
    could NOT close): readers must keep seeing the exact pre-upsert
    snapshot, and a retry must complete the upsert exactly once."""
    from chronicle_sniffer_spark.operators.ivf import (
        _assign,
        ivf_index_upsert,
        ivf_index_write,
        ivf_read_cells,
    )

    spark = emb.sparkSession
    idx = str(tmp_path / "index")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    ivf_index_write(base, idx)
    key = lambda r: (r.vec_id, r.cid, tuple(r.v))  # noqa: E731
    before = sorted(map(key, ivf_read_cells(spark, idx).collect()))
    with crash_before_commit(), pytest.raises(RuntimeError, match="injected crash"):
        ivf_index_upsert(spark, idx, delta)
    # the staged-but-unpublished epoch dir is invisible to readers
    assert sorted(map(key, ivf_read_cells(spark, idx).collect())) == before
    # retry completes: merged index equals full assignment to the
    # base-trained centroids (the staged residue is discarded cleanly)
    ivf_index_upsert(spark, idx, delta)
    cent = spark.read.parquet(f"{idx}/centroids")
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    full = _assign(vecs, cent)
    assert sorted(map(key, ivf_read_cells(spark, idx).collect())) == sorted(
        map(key, full.collect())
    )


def test_served_probe_reads_only_probed_cells(emb, tmp_path):
    """Manifest path resolution IS the probe's pruning: the served
    query's scan must list exactly the probed cells' directories —
    unprobed cells' files never appear in the scan's input."""
    from chronicle_sniffer_spark.operators.ivf import (
        N_PROBE,
        ivf_index_write,
        ivf_topk_from_index,
    )
    from chronicle_sniffer_spark.streaming import manifest as mf

    spark = emb.sparkSession
    idx = str(tmp_path / "index")
    ivf_index_write(emb, idx)
    n_cells = len(mf.bucket_epochs(mf.read_manifest(idx)))
    assert n_cells > N_PROBE, "corpus too small for pruning to mean anything"
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    qv = list(vecs.filter(F.col("vec_id") == QUERY).collect()[0].v)
    served = ivf_topk_from_index(spark, idx, qv, K)
    files = served.inputFiles()
    probed_dirs = {f.rsplit("/", 1)[0] for f in files}
    assert len(probed_dirs) == N_PROBE, probed_dirs
    assert all("bucket=" in d for d in probed_dirs)


def test_rebuild_over_live_index_is_atomic_and_complete(emb, tmp_path):
    """ivf_index_write over an ALREADY-materialized index is a normal
    manifest commit, not an overwrite (round-12 advisor finding: the
    epoch-0 rewrite rmtree'd data the live manifest referenced, and
    the bucket-map merge let cells absent from the new assignment
    keep serving stale vectors).  Contract: (a) the new read serves
    exactly the rebuild corpus — every vec_id once, none stale;
    (b) the PREVIOUS manifest version still resolves the complete
    pre-rebuild snapshot (old centroids + old cells) until pruned;
    (c) the post-rebuild probe runs against the new model."""
    from chronicle_sniffer_spark.operators.ivf import (
        _centroids_path,
        ivf_index_write,
        ivf_read_cells,
        ivf_topk_from_index,
    )
    from chronicle_sniffer_spark.streaming import manifest as mf

    spark = emb.sparkSession
    idx = str(tmp_path / "index")
    ivf_index_write(emb, idx)
    m0 = mf.read_manifest(idx)
    before = {
        (r.vec_id, tuple(r.v)) for r in ivf_read_cells(spark, idx).collect()
    }
    # rebuild on a strict SUBSET (every other vec_id): dropped rows
    # must disappear, and with 8 centroids over half the corpus some
    # cell layout changes are guaranteed
    sub = emb.filter(F.col("vec_id") % 2 == 0)
    ivf_index_write(sub, idx, n_centroids=8, n_iter=2)
    m1 = mf.read_manifest(idx)
    assert m1["version"] == m0["version"] + 1
    assert m1["epoch"] == m0["epoch"] + 1
    assert m1["centroids"] != m0.get("centroids")
    after = ivf_read_cells(spark, idx)
    want_ids = {r.vec_id for r in sub.select("vec_id").collect()}
    got_ids = [r.vec_id for r in after.select("vec_id").collect()]
    assert sorted(got_ids) == sorted(want_ids), "rebuilt index is not exactly the rebuild corpus"
    dupes = after.groupBy("vec_id").count().filter(F.col("count") > 1).count()
    assert dupes == 0, "a vec_id serves from two cells after rebuild"
    # (b) time travel: the previous version still reads the full
    # pre-rebuild snapshot, including its own centroid table
    old = {
        (r.vec_id, tuple(r.v))
        for r in ivf_read_cells(spark, idx, version=m0["version"]).collect()
    }
    assert old == before
    assert spark.read.parquet(_centroids_path(idx, m0)).count() > 0
    # (c) the probe path serves from the new snapshot
    qv = list(
        emb.filter(F.col("vec_id") == 0)
        .select(as_double(F.col("embedding")).alias("v"))
        .collect()[0]
        .v
    )
    served = ivf_topk_from_index(spark, idx, qv, 5)
    assert served.count() == 5
    assert all(r.vec_id in want_ids for r in served.collect())
    # prune to the latest version: the old epoch's data AND centroid
    # dirs become unreferenced and are reclaimed
    removed = mf.prune(idx, keep_last=1)
    assert any(r.startswith("centroids/commit=") for r in removed)
    assert ivf_read_cells(spark, idx).count() == len(want_ids)
