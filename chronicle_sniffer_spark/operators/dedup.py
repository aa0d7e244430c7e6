"""Near-duplicate detection by n-gram Jaccard similarity
(SURVEY.md §2B L2; complements the MinHash-LSH path in plans/llm.py
and the SimHash signatures in functions/text.py).

Scale shape (the 100 TB story):

1. **Shingling is a narrow flatMap** — no shuffle; each doc emits its
   distinct word n-grams.
2. **Candidate generation is a prefix-filtered inverted-index
   self-join** (the standard set-similarity-join prefix filter: under
   any global total order of grams, two sets with Jaccard ≥ t must
   share a gram within the first ``|g| - ceil(t*|g|) + 1`` grams of
   each set's ordering).  Ordering grams by ascending document
   frequency puts the *rarest* grams in the prefix, so the per-gram
   join fan-out collapses: common grams — the skew hazard AND the
   bulk of the candidate volume — never enter the index.  A
   document-frequency cap on prefix entries remains as a hard skew
   guard for adversarial corpora (a gram rare enough to be in many
   prefixes but still shared by millions of docs).  The cap is
   CORPUS-RELATIVE by default (``max_df_pct`` percent of the doc
   count, exact integer ceil, computed in-plan as a 1-row
   broadcast) — an absolute cap would silently drive candidate
   recall to zero as the corpus grows; pass ``max_df`` for an
   absolute override.  The cap is never silent: pair it with
   :func:`ngram_df_cap_report` to surface how many grams it drops.
3. **A size filter rides on the join**: Jaccard ≥ t forces
   ``t*|a| <= |b| <= |a|/t``, pruning mismatched-length pairs before
   the pair shuffle.
4. **Jaccard is then computed exactly** for candidate pairs only, from
   the *full* gram sets, so filtering affects candidate recall only
   through the proven-lossless prefix bound — never the correctness
   of a reported score.

Reference tie-in: generalizes the ref's exact-membership dedup
(`sniffer/sniffer_entrypoint.sh:117-128` processed-file set) to
content-similarity dedup for training-data pipelines.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir


def ngram_zip_expr(n: int, words_sql: str = "split(text, ' ')") -> str:
    """SQL for the word-n-gram array WITHOUT a lambda: zip the words
    array with its own k-shifted slices and trim to the gram count.

    transform(sequence(...), i -> array_join(slice(words, i, n)))
    computes the same grams, but higher-order functions are
    CodegenFallback expressions — one in a Project/Generate knocks the
    operator out of whole-stage codegen and the gram fan-out evaluates
    interpreted (measured 2.5x slower at sf0.1).  arrays_zip pads the
    shorter slices with NULL and the gram join skips NULLs, which
    reproduces array_join's short-gram behavior for docs with fewer
    than n words.  Callers concat_ws(' ', z.`0`, ..., z.`n-1`) after
    exploding."""
    shifts = ", ".join(
        f"slice({words_sql}, {k + 1}, greatest(size({words_sql}) - {k}, 0))"
        for k in range(1, n)
    )
    return (
        f"slice(arrays_zip({words_sql}, {shifts}),"
        f" 1, greatest(size({words_sql}) - {n - 1}, 1))"
    )


def ngram_gram_col(n: int, zipped: str = "z") -> Column:
    """concat_ws over the zipped struct's positional fields (skips the
    NULL padding on short docs)."""
    return F.concat_ws(" ", *[F.col(f"{zipped}.`{k}`") for k in range(n)])


def word_ngrams(docs: DataFrame, n: int = 3) -> DataFrame:
    """doc_id → distinct word n-grams (narrow flatMap + distinct).

    Repartition before the explode so the ~|text|× fan-out map stage
    doesn't run in the scan's (possibly single-file) partitioning.
    Gram generation is the lambda-free zip form (whole-stage codegen;
    see :func:`ngram_zip_expr`).
    """
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, "doc_id")
    return (
        docs.select("doc_id", F.explode(F.expr(ngram_zip_expr(n))).alias("z"))
        .select("doc_id", ngram_gram_col(n).alias("gram"))
        .distinct()
    )


def _df_cap_col(docs: DataFrame, max_df: int | None, max_df_pct: int):
    """(cap DataFrame or None, cap Column).  Relative cap =
    ceil(max_df_pct% of doc count) in EXACT integer math
    ((n*pct + 99) div 100) — float fractions round differently across
    engines (0.2 is not binary-exact)."""
    if max_df is not None:
        return None, F.lit(int(max_df)).cast("bigint")
    cap = docs.agg(
        F.expr(f"CAST((count(*) * {int(max_df_pct)} + 99) DIV 100 AS BIGINT)").alias(
            "max_df_cap"
        )
    )
    return cap, F.col("max_df_cap")


def _ranked_grams(docs: DataFrame, n: int) -> tuple[DataFrame, DataFrame]:
    """Shared index-construction for the set-similarity joins:
    ``ranked`` = (doc_id, gram, df, rn, n_grams) with per-doc ranks
    under the ONE global (document-frequency asc, gram) order — rarest
    grams first — and ``gram_sets`` = one row per doc holding its
    sorted full gram set, built from the already doc_id-partitioned
    ``ranked`` (no extra shuffle).  Scoring joins read ``gram_sets``,
    so candidate-side pruning can never change a score."""
    grams = word_ngrams(docs, n)
    df = grams.groupBy("gram").agg(F.count("*").alias("df"))
    gdf = grams.join(df, "gram")

    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    ranked = gdf.select(
        "doc_id",
        "gram",
        "df",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("n_grams"),
    )
    gram_sets = ranked.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("gram")).alias("grams"),
        F.first("n_grams").alias("n_grams"),
    )
    return ranked, gram_sets


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    max_df_pct: int = 20,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with Jaccard ≥ threshold.

    Shuffle inventory: gram-distinct, df agg (by gram), df join (by
    gram), window+set-build (ONE doc_id shuffle — the groupBy reuses
    the window's partitioning), prefix self-join (by gram), pair
    distinct, and the two scoring joins (by doc).  Every key is a gram,
    a doc id, or a pair — never a document body.

    The prefix df cap defaults to ``max_df_pct`` percent of the corpus
    doc count (a 1-row broadcast, no driver action); ``max_df`` forces
    an absolute cap instead (tests, adversarial skew guards).
    """
    cap_df, cap_col = _df_cap_col(docs, max_df, max_df_pct)
    ranked, gram_sets = _ranked_grams(docs, n)

    # prefix filter (epsilon-relaxed so score-side 6dp rounding can
    # never admit a pair the candidate side already pruned)
    t = threshold - 1e-6
    prefix_len = F.col("n_grams") - F.ceil(F.lit(t) * F.col("n_grams")) + 1
    ranked_capped = ranked if cap_df is None else ranked.crossJoin(F.broadcast(cap_df))
    prefix = ranked_capped.filter(
        (F.col("rn") <= prefix_len) & (F.col("df") <= cap_col)
    ).select("doc_id", "gram", "n_grams", "rn")

    a, b = prefix.alias("a"), prefix.alias("b")
    matches = a.join(
        b,
        (F.col("a.gram") == F.col("b.gram"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("b.n_grams") >= F.lit(t) * F.col("a.n_grams"))
        & (F.col("b.n_grams") * F.lit(t) <= F.col("a.n_grams")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.n_grams").alias("na"),
        F.col("b.n_grams").alias("nb"),
        F.col("a.rn").alias("rn_a"),
        F.col("b.rn").alias("rn_b"),
    )

    # positional filter (PPJoin, Xiao et al. WWW'08): per-doc ranks
    # follow the one global (df, gram) order, so the last shared prefix
    # gram attains max rank in BOTH docs; every common gram earlier in
    # the order lies in both prefixes (hence is one of the counted
    # matches), and every later one fits in the min() remainder.  So
    #   |a∩b| <= shared + min(na - max_rn_a, nb - max_rn_b)
    # and Jaccard >= t needs |a∩b| >= t/(1+t) * (na+nb).  Same shuffle
    # the pair-distinct needed anyway — strictly more pruning for free.
    overlap_bound = F.col("shared") + F.least(
        F.col("na") - F.col("max_rn_a"), F.col("nb") - F.col("max_rn_b")
    )
    cand = (
        matches.groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("shared"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
            F.max("rn_a").alias("max_rn_a"),
            F.max("rn_b").alias("max_rn_b"),
        )
        .filter(overlap_bound >= F.lit(t / (1.0 + t)) * (F.col("na") + F.col("nb")))
        .select("doc_a", "doc_b")
    )

    # exact Jaccard over the full gram sets, candidates only —
    # array_intersect stays JVM-side, sets travel once per candidate
    sa = gram_sets.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a"))
    sb = gram_sets.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b"))
    n_inter = F.size(F.array_intersect("grams_a", "grams_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                n_inter / (F.size("grams_a") + F.size("grams_b") - n_inter), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_df_cap_report(
    docs: DataFrame,
    n: int = 3,
    max_df: int | None = None,
    max_df_pct: int = 20,
) -> DataFrame:
    """One-row audit of the df cap's candidate-recall cost: the
    effective cap, total distinct grams, and how many grams the cap
    drops from the prefix index (no silent caps — a 100 TB run reads
    this row before trusting the near-dup recall).  Same gram pipeline
    and cap arithmetic as :func:`ngram_jaccard_pairs`."""
    cap_df, cap_col = _df_cap_col(docs, max_df, max_df_pct)
    df = word_ngrams(docs, n).groupBy("gram").agg(F.count("*").alias("df"))
    if cap_df is not None:
        df = df.crossJoin(F.broadcast(cap_df))
    return df.agg(
        F.max(cap_col).cast("bigint").alias("max_df_cap"),
        F.count("*").cast("bigint").alias("n_grams"),
        F.sum((F.col("df") > cap_col).cast("int")).cast("bigint").alias("n_dropped"),
        # an ungrouped agg always emits one row, but the DuckDB oracle's
        # cross-join + GROUP BY shape emits ZERO rows on an empty
        # corpus — filter the degenerate row so both sides agree
    ).filter(F.col("n_grams") > 0)


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    max_df_pct: int = 20,
) -> DataFrame:
    """(doc_a, doc_b, containment) for pairs whose max containment
    |A∩B| / min(|A|,|B|) ≥ threshold — the ASYMMETRIC companion to
    :func:`ngram_jaccard_pairs`: a short doc embedded in a long one
    scores high here while its Jaccard stays low.

    Candidate generation reuses the same df-capped rare-gram inverted
    index, with the containment form of the prefix filter: if
    |A∩B| ≥ t·|m| for the smaller set m, then m's first
    ``|m| - ceil(t·|m|) + 1`` grams (under the global rarity order)
    must include a shared gram.  So the INDEX side holds only prefix
    entries, the PROBE side all capped entries, and the join is
    provably lossless for pairs at/above threshold — dropped pairs
    would fail the exact-score filter anyway.

    Candidates then pass a POSITIONAL filter (the containment
    analogue of the Jaccard path's PPJoin bound) before the expensive
    full-set scoring join: per-doc ranks follow the one global
    (df asc, gram) order, so the last matched gram g* has the maximum
    rank among matches in BOTH docs, every common gram globally
    earlier than g* lies under a matched prefix (hence is itself
    matched), and every later one fits in the smaller suffix.  Thus
        |A∩B| ≤ shared + min(na − max_rn_a, nb − max_rn_b)
    and containment ≥ t needs |A∩B| ≥ t·min(na, nb) — candidates whose
    bound falls short are pruned without ever shipping their gram
    arrays.  A capped-out common gram is invisible to `shared` AND not
    covered by the matched-prefix argument (it never enters the join),
    so the bound CREDITS the cap explicitly, in two stages.  Stage 1
    (no extra join): each doc carries its count of capped-out grams
    c = n_grams − kept, and any unmatched common gram is either
    uncapped-after-g* (≤ the suffix allowance) or capped
    (≤ min(c_a, c_b)), giving
        |A∩B| ≤ shared + min(na − max_rn_a, nb − max_rn_b) + min(c_a, c_b).
    Stage 2 tightens the blanket min(c_a, c_b) to the EXACT per-pair
    count of capped common grams: a gram is capped iff its GLOBAL df
    exceeds the cap, so the distinct capped-gram universe is small
    (≤ total gram occurrences / cap) and each doc's capped grams fit a
    small sorted array; two hash joins on the already-bounded stage-1
    candidate set compute |capped_a ∩ capped_b| exactly — never a join
    ON the capped grams themselves, which is precisely the skew join
    the cap exists to avoid.  The exact credit is the true value of the
    quantity stage 1 bounded, so stage 2 is lossless by construction
    and strictly tighter:
        |A∩B| = shared + unmatched_uncapped + |capped_a ∩ capped_b|
              ≤ shared + min(na − max_rn_a, nb − max_rn_b)
                       + |capped_a ∩ capped_b|.
    With the credit the positional filter is lossless EVEN under a df
    cap — its only recall exposure is the prefix index's own, already
    audited by :func:`ngram_df_cap_report` — and with the cap disabled
    the credit is zero and the pipeline is exactly lossless (hypothesis
    brute-force equality on random adversarial corpora,
    tests/test_dedup_property.py::test_containment_pairs_match_bruteforce_on_random_corpora;
    the capped regime has its own subset-and-exact-scores property
    test).
    Scores are computed exactly on the full gram sets (``gram_sets``),
    so pruning affects candidate recall only through the proven bound
    and the audited df cap, never a reported score."""
    cap_df, cap_col = _df_cap_col(docs, max_df, max_df_pct)
    ranked, gram_sets = _ranked_grams(docs, n)

    t = threshold - 1e-6  # epsilon-relaxed: 6dp score rounding can admit
    ranked_capped = ranked if cap_df is None else ranked.crossJoin(F.broadcast(cap_df))
    capped = ranked_capped.filter(F.col("df") <= cap_col).withColumn(
        # capped-OUT grams per doc, credited in the positional bound
        # below (rn/n_grams are pre-cap; the kept-count window reuses
        # the doc_id partitioning the rn window established — no new
        # shuffle)
        "n_capped",
        F.col("n_grams") - F.count("*").over(Window.partitionBy("doc_id")),
    )
    prefix_len = F.col("n_grams") - F.ceil(F.lit(t) * F.col("n_grams")) + 1
    index = capped.filter(F.col("rn") <= prefix_len).select(
        "doc_id", "gram", "rn", "n_grams", "n_capped"
    )
    probe = capped.select(
        F.col("doc_id").alias("p_doc"),
        "gram",
        F.col("rn").alias("p_rn"),
        F.col("n_grams").alias("p_n"),
        F.col("n_capped").alias("p_capped"),
    )
    # ONE direction only: the prefix theorem needs only the SMALLER
    # set's prefix to contain a shared gram (for equal sizes it holds
    # for either, so an id tie-break picks one), so the index side is
    # constrained to the min-(size, id) doc of each pair.  This halves
    # the match volume (measured 45.2M -> 22.9M rows at sf1) AND makes
    # (pair, gram) unique — the pair aggregate becomes a plain
    # count(*) with map-side partial aggregation instead of a
    # countDistinct Expand.
    ix_lt = F.col("doc_id") < F.col("p_doc")
    m = (
        index.join(probe, "gram")
        .filter(
            (F.col("n_grams") < F.col("p_n"))
            | ((F.col("n_grams") == F.col("p_n")) & ix_lt)
        )
        .select(
            F.least("doc_id", "p_doc").alias("doc_a"),
            F.greatest("doc_id", "p_doc").alias("doc_b"),
            F.when(ix_lt, F.col("rn")).otherwise(F.col("p_rn")).alias("rn_a"),
            F.when(ix_lt, F.col("p_rn")).otherwise(F.col("rn")).alias("rn_b"),
            F.when(ix_lt, F.col("n_grams")).otherwise(F.col("p_n")).alias("na"),
            F.when(ix_lt, F.col("p_n")).otherwise(F.col("n_grams")).alias("nb"),
            F.when(ix_lt, F.col("n_capped")).otherwise(F.col("p_capped")).alias("ca"),
            F.when(ix_lt, F.col("p_capped")).otherwise(F.col("n_capped")).alias("cb"),
        )
    )
    # stage 1: |A∩B| ≤ matched + uncapped-unmatched (suffix window) +
    # capped common grams (≤ min of the per-doc capped-out counts) —
    # see the docstring's losslessness argument; with no cap active
    # both credits are zero and this is the plain PPJoin-suffix bound
    suffix_allow = F.least(
        F.col("na") - F.col("max_rn_a"), F.col("nb") - F.col("max_rn_b")
    )
    overlap_bound = F.col("shared") + suffix_allow + F.least(F.col("ca"), F.col("cb"))
    cand1 = (
        m.groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("shared"),
            F.max("rn_a").alias("max_rn_a"),
            F.max("rn_b").alias("max_rn_b"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
            F.first("ca").alias("ca"),
            F.first("cb").alias("cb"),
        )
        .filter(overlap_bound >= F.lit(t) * F.least(F.col("na"), F.col("nb")))
    )

    # stage 2: tighten the blanket min(ca, cb) to the EXACT per-pair
    # capped-common count.  A gram is capped iff its global df exceeds
    # the cap, so each doc's capped grams form a small sorted array
    # (distinct capped grams ≤ total occurrences / cap globally); two
    # doc-keyed hash joins on the stage-1 survivors — candidate-sized,
    # never keyed on the high-df grams themselves — make the credit
    # exact before the expensive full-gram-set scoring join ships any
    # arrays.  Exact value of the bounded quantity ⇒ lossless.
    capped_sets = (
        ranked_capped.filter(F.col("df") > cap_col)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("gram")).alias("cg"))
    )
    exact_credit = F.when(
        F.col("cg_a").isNull() | F.col("cg_b").isNull(), F.lit(0)
    ).otherwise(F.size(F.array_intersect("cg_a", "cg_b")))
    cand = (
        cand1.join(
            capped_sets.select(
                F.col("doc_id").alias("doc_a"), F.col("cg").alias("cg_a")
            ),
            "doc_a",
            "left",
        )
        .join(
            capped_sets.select(
                F.col("doc_id").alias("doc_b"), F.col("cg").alias("cg_b")
            ),
            "doc_b",
            "left",
        )
        .filter(
            F.col("shared") + suffix_allow + exact_credit
            >= F.lit(t) * F.least(F.col("na"), F.col("nb"))
        )
        .select("doc_a", "doc_b")
    )

    sa = gram_sets.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a"))
    sb = gram_sets.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b"))
    n_inter = F.size(F.array_intersect("grams_a", "grams_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                n_inter / F.least(F.size("grams_a"), F.size("grams_b")), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def _star_components(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) —
    O(log n) rounds regardless of component diameter, the scale path
    for adversarially long chains a 100 TB near-dup graph can contain.

    ``edges``: canonical undirected edge set, columns (u, v) with
    u > v, distinct, no self-loops.  Returns (node, label) with
    label = component minimum for every node incident to an edge.

    Each round is two grouped-min + join steps over the edge set —
    the same shuffle primitives as one label-propagation round — and
    the edge set only shrinks toward stars centered at component
    minima.  Convergence check is exact (new ⊆ old via exceptAll +
    count equality), not a checksum.
    """

    def large_star(e: DataFrame) -> DataFrame:
        bid = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = bid.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("u", "mv").alias("m"))
        return (
            bid.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        joined = e.join(mins, "u")
        moved = joined.filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        centers = mins.select("u", F.col("m").alias("v"))
        return moved.union(centers).distinct()

    # each round references `cur` four times (bidirectional union +
    # grouped-min join in BOTH star steps), so an uncheckpointed
    # logical plan grows ~5x per round and kills the driver at ~10
    # rounds.  localCheckpoint truncates lineage every round (on a
    # real cluster with preemptible executors, swap for
    # reliable checkpoint(dir) — same call shape).
    cur = edges.localCheckpoint()
    for _ in range(max_iter):
        new = small_star(large_star(cur)).localCheckpoint()
        stable = new.count() == cur.count() and new.exceptAll(cur).isEmpty()
        cur = new
        if stable:
            leaves = cur.select(F.col("u").alias("node"), F.col("v").alias("label"))
            centers = (
                cur.select(F.col("v").alias("node"))
                .distinct()
                .select("node", F.col("node").alias("label"))
            )
            # at the star fixpoint every non-center points straight
            # at its component min; the groupBy-min collapses any
            # node that is both a leaf and a center of a sub-star
            return (
                leaves.union(centers)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
    raise RuntimeError(
        f"star connected components: not converged after {max_iter} rounds"
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 30,
    switch_after: int = 5,
) -> DataFrame:
    """Near-dup pairs → clusters: (node, cluster_id = min reachable id).

    Min-label propagation: each round every node takes the min of its
    own and its neighbors' labels — one join + one groupBy per round,
    converging in O(component diameter) rounds.  Near-dup graphs are
    piles of small dense cliques (diameter 1-2), so this settles in a
    couple of rounds.  If the graph turns out to have a LONG diameter
    (``switch_after`` rounds without convergence), the operator
    switches to the large-star/small-star alternation
    (:func:`_star_components`) — logarithmic rounds, the 100 TB path
    for pathological chains.  Both produce identical labels (min id
    per component), so the switch is invisible to callers.

    Raises after ``max_iter`` non-converged rounds rather than
    returning a partial clustering (if ``max_iter`` ≤ ``switch_after``
    the star fallback never engages — the explicit fail-loudly cap).
    """
    fwd = pairs.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    rev = pairs.select(F.col(dst).alias("s"), F.col(src).alias("t"))
    edges = fwd.union(rev).distinct().cache()
    labels = edges.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    ).cache()
    try:
        for rnd in range(max_iter):
            if rnd >= switch_after:
                # diameter exceeded the cheap-path budget: restart on
                # the logarithmic-round algorithm
                canon = (
                    edges.filter(F.col("s") != F.col("t"))
                    .select(
                        F.greatest("s", "t").alias("u"), F.least("s", "t").alias("v")
                    )
                    .distinct()
                )
                labels.unpersist()
                star = _star_components(canon, max_iter=max_iter)
                # a node whose ONLY incidence is a self-loop pair has no
                # surviving canon edge and would vanish from the star
                # result while the label-prop path keeps it — union it
                # back as a singleton so the switch stays invisible to
                # callers (both paths label it with its own id)
                singletons = (
                    edges.select(F.col("s").alias("node"))
                    .distinct()
                    .join(star, "node", "left_anti")
                    .select("node", F.col("node").alias("label"))
                )
                return star.unionByName(singletons)
            nbr = (
                edges.join(labels, edges["t"] == labels["node"])
                .select(
                    edges["s"].alias("node"),
                    labels["label"],
                    F.lit(False).alias("own"),
                )
            )
            # ONE job per round: the node's previous label rides the
            # same union-aggregate as the propagation min (each node
            # appears exactly once from `labels`, tagged own=true), so
            # the convergence check needs no join back; the
            # localCheckpoint is LAZY and the `changed` count
            # materializes it — where the eager-checkpoint + join-count
            # form paid two driver-synchronized jobs per round.
            # Checkpoint (not just cache) still truncates the logical
            # plan each round — an uncheckpointed label chain nests
            # one join+union+agg per round and overflows the driver
            # stack during planning on large graphs (same discipline
            # as _star_components)
            new2 = (
                nbr.unionByName(
                    labels.select(
                        "node", "label", F.lit(True).alias("own")
                    )
                )
                .groupBy("node")
                .agg(
                    F.min("label").alias("label"),
                    F.min(F.when(F.col("own"), F.col("label"))).alias(
                        "old_label"
                    ),
                )
                .localCheckpoint(eager=False)
            )
            changed = new2.filter(F.col("label") < F.col("old_label")).count()
            labels.unpersist()
            labels = new2.select("node", "label")
            if changed == 0:
                return labels
        raise RuntimeError(f"connected_components: not converged after {max_iter} rounds")
    finally:
        edges.unpersist()


# ---------------------------------------------------------------------------
# The catalog's word-n-gram Jaccard configuration: its DuckDB twin and
# the session-scoped pair/label materialization its entries share
# ---------------------------------------------------------------------------

NGRAM_N = 3
JACCARD_THRESHOLD = 0.5
NGRAM_MAX_DF_PCT = 20  # prefix df cap = ceil(20% of corpus doc count), corpus-relative


_ORACLE_GRAMS_CTE = f"""
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(words[i:i+{NGRAM_N - 1}], ' ') AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           unnest(generate_series(1, greatest(len(words) - {NGRAM_N - 1}, 1))) AS t(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
    rare AS (
      SELECT g.doc_id, g.gram FROM grams g
      JOIN (SELECT gram FROM grams GROUP BY gram
            HAVING count(*) <= (SELECT (count(*) * {NGRAM_MAX_DF_PCT} + 99) // 100
                                FROM documents)) r
        ON g.gram = r.gram
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rare a JOIN rare b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN grams g1 ON g1.doc_id = c.doc_a
      JOIN grams g2 ON g2.doc_id = c.doc_b AND g2.gram = g1.gram
      GROUP BY c.doc_a, c.doc_b
    )
"""


def shared_pairs_and_labels(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Session-scoped materialization of the n-gram Jaccard pair set
    and its connected-component labels over the raw ``documents``
    table (the module's shared constants).

    Three catalog entries consume the SAME pair generation + component
    closure — ``l2_ngram_jaccard`` (pairs), ``l2_dedup_clusters``
    (labels), ``l6_leakage_safe_split`` (labels) — and each used to
    recompute it from scratch (~35 s of EACH sf1 wall).  This is also
    the production shape: a dedup run computes the cluster table once
    and many downstream jobs read it.  First caller in a session pays
    the computation and writes both tables to parquet; every later
    caller (and every later stage of the same query) reads the parquet
    back — a scan, not a 7-shuffle recompute.

    No fixture is shared across processes, so a fresh session never
    trusts a stale file from a previous process, and two concurrent
    processes on the same sf_dir (e.g. bench.py and pytest) never
    clobber parquet files the other is reading.
    """

    def build() -> tuple[str, str]:
        base = session_tmpdir("css_ngram_pairs_")
        pairs_path = os.path.join(base, "pairs")
        labels_path = os.path.join(base, "labels")
        pairs = ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"),
            n=NGRAM_N,
            threshold=JACCARD_THRESHOLD,
            max_df_pct=NGRAM_MAX_DF_PCT,
        )
        pairs.write.mode("overwrite").parquet(pairs_path)
        pairs = spark.read.parquet(pairs_path)
        connected_components(pairs).write.mode("overwrite").parquet(labels_path)
        return pairs_path, labels_path

    pairs_path, labels_path = session_memo(
        spark, ("ngram_pairs_labels", os.path.abspath(sf_dir)), build
    )
    return spark.read.parquet(pairs_path), spark.read.parquet(labels_path)


# ---------------------------------------------------------------------------
# MinHash signatures
# ---------------------------------------------------------------------------

# MinHash parameters (seed-fixed, SURVEY §4.3-6): 5-char shingles,
# 4 hash functions, 2 bands × 2 rows.  The 4 functions are the four
# 8-hex-char slices of ONE md5 per shingle ("one permutation" style) —
# 4× fewer hash computations than 4 salted md5s, same LSH banding
# properties, still engine-portable (DuckDB computes the identical
# slices).
SHINGLE_LEN = 5
MINHASH_K = 4


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → k min-hashes over character shingles (one md5 per
    shingle, sliced into k sub-hashes).

    Explode is a narrow flatMap; the only shuffle is the groupBy on
    doc_id (map-side partial min keeps it small).  Deterministic: MD5
    is engine-independent, no RNG.

    The explode multiplies each doc into ~|text| shingle rows, so the
    input is repartitioned FIRST: a single-file doc table would
    otherwise do the entire 1000×-fan-out map stage in one task (the
    pre-shuffle stage inherits the scan's partitioning — cheap to fix
    on the 1×-size side, unfixable mid-stage on the 1000× side).
    """
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, "doc_id")
    shingles = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("text") - (SHINGLE_LEN - 1), F.lit(1)))
        ).alias("pos"),
        "text",
    ).select(
        "doc_id",
        F.md5(F.substring(F.col("text"), F.col("pos"), SHINGLE_LEN).cast("binary")).alias("h"),
    )
    aggs = [
        F.min(F.substring("h", 1 + 8 * i, 8)).alias(f"h{i+1}") for i in range(MINHASH_K)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)
