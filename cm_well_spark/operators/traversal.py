"""Graph traversals — xg / yg / gqp (SURVEY.md §2.3, J1-J3, J7).

These are CM-Well's "joins": URI-identity equi joins between FReference
field values and infoton paths.

  xg  (J1) expand-out: bounded (<=9) unrolled loop of edge hops,
      accumulating distinct paths (reference: deepExpandGraph
      wsutil/package.scala:716-749, expandIn :521-615; limit 10000
      application.conf:71).
  yg  (J2) expand-up/in chains: '<field' = reverse join (who points at
      me), '>field' = forward deref (pathExpansionParser wsutil:850-963,
      expandUp :617-714).
  gqp (J3) like yg but only FILTERS the result set: an original survives
      iff the whole segment chain reaches a non-empty population
      (gqpFilter wsutil:751-849) -> chain of semi joins.
  J7  ghost skipping: dangling references simply find no row on the
      other side of the join; the chain continues from what matched
      (GhostInfoton Infoton.scala:320; ExpansionTests.scala:238-243).

Scale shape: every hop reads EDGES from the predicate-partitioned
`triples` table — a narrow, partition-pruned scan (bound field names
prune to their `p` partitions) with the bounded frontier broadcast —
never a scan of the wide doc-table field maps. Every broadcast decision
is a plans/keyset.py route: a stats or carrier proof when one exists,
else one counted checkpoint. Per-level `[qp]` filters hydrate only the
candidate target paths. The traversal bookkeeping is path sets; full
infoton rows are fetched ONCE at the end via a semi join.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cm_well_spark.parsers.expansion import (
    ExpandIn,
    ExpandUp,
    FilteredField,
    LevelExpansion,
    PathsExpansion,
    parse_gqp,
    parse_xg,
    parse_yg,
)
from cm_well_spark.plans import keyset
from cm_well_spark.plans.bounds import proven_path_bound
from cm_well_spark.plans.compile import compile_filter

XG_LIMIT = 10_000  # webservice.xg.limit (application.conf:71)


def _target_filter(selectors: tuple[FilteredField, ...]) -> Column | None:
    qps = [s.qp for s in selectors if s.qp is not None]
    if not qps:
        return None
    return reduce(lambda a, b: a & b, (compile_filter(q) for q in qps))


def _edges(triples: DataFrame, selectors, reverse: bool) -> DataFrame:
    """(src, dst) edge pairs through the selected fields. Bound field
    names prune the triples scan to their `p` partitions; the joker
    reads all reference-valued rows."""
    named = [s.field for s in selectors if s.field is not None]
    joker = any(s.field is None for s in selectors)
    t = triples.where(F.col("current"))
    if named and not joker:
        t = t.where(F.col("p").isin(named))
    t = t.where((F.col("vtype") == "s") & F.col("o").startswith("/"))
    if reverse:
        return t.select(F.col("o").alias("src"), F.col("s").alias("dst"))
    return t.select(F.col("s").alias("src"), F.col("o").alias("dst"))


def _filtered_paths(
    infotons: DataFrame, paths: DataFrame, selectors, n_paths: int
) -> DataFrame:
    """Apply the per-level [qp] filter by hydrating ONLY the candidate
    paths (semi join), returning the surviving path set. `n_paths` is
    the proven bound on the candidates: the keyset route broadcasts only
    under its cap, otherwise AQE's runtime size check picks the strategy
    — a blind hint here is a broadcast-OOM at 100 TB (VERDICT r1 finding
    4), a blind shuffle is a full exchange of the wide doc table."""
    tf = _target_filter(selectors)
    hydrated = keyset.keep(infotons.where(F.col("current")), "path", paths, n_paths)
    if tf is not None:
        hydrated = hydrated.where(tf)
    return hydrated.select("path")


def _stats_dst_bound(selectors, reverse: bool, stats: dict | None) -> int | None:
    """Upper bound on a hop's distinct target count from predicate_stats:
    forward targets are the fields' distinct objects, reverse targets the
    distinct subjects. None when unprovable (joker field / missing stats)."""
    if stats is None:
        return None
    named = [s.field for s in selectors if s.field is not None]
    if not named or any(s.field is None for s in selectors):
        return None
    key = "dsubj" if reverse else "dobj"
    try:
        return sum(int(stats[f][key]) for f in named)
    except KeyError:
        return 0  # field never seen in the store: hop lands nowhere


def _hop(
    infotons: DataFrame,
    triples: DataFrame,
    frontier_paths: DataFrame,
    n_frontier: int,
    selectors,
    reverse: bool,
    stats: dict | None = None,
) -> DataFrame:
    """One edge hop from a frontier with proven bound `n_frontier`.
    The hop TARGETS' bound is proven the cheapest way available: from
    predicate_stats when the fields are named (no extra job at all),
    else by materializing + counting the target set — never assumed."""
    edges = keyset.keep(_edges(triples, selectors, reverse), "src", frontier_paths, n_frontier)
    dsts, n_dsts = keyset.proven(
        edges.select(F.col("dst").alias("path")).distinct(),
        _stats_dst_bound(selectors, reverse, stats),
    )
    # ghost skip (J7): only paths that exist as current infotons survive,
    # and the per-level filter applies to the hydrated targets
    return _filtered_paths(infotons, dsts, selectors, n_dsts)


def _hydrate(infotons: DataFrame, paths: DataFrame, limit: int) -> DataFrame:
    return infotons.where(F.col("current")).join(
        F.broadcast(paths.distinct().limit(limit)), "path", "left_semi"
    )


def expand_out(
    infotons: DataFrame,
    seeds: DataFrame,
    xg: str | list[LevelExpansion] = "",
    limit: int = XG_LIMIT,
    triples: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """J1 xg: returns seeds plus all expanded infotons (distinct by path).
    Levels are bounded at 9 by the grammar, so the loop unrolls into one
    declarative plan."""
    from cm_well_spark.model.lakehouse import triples_of

    t = triples if triples is not None else triples_of(infotons)
    levels = parse_xg(xg) if isinstance(xg, str) else xg
    # iterative expansion: materialize the (bounded, <=10k-path) frontier
    # each level — without this the accumulated plan re-evaluates the
    # whole chain 2^levels times (measured 10x wall on a 2-level xg)
    # the frontier count proves boundedness for the broadcast-hint
    # decision (VERDICT r1 finding 4) and rides the checkpoint's own
    # materialization job (r11, iter_checkpoint_count)
    # seed-bound elision (r11): search() exports its proven row bound
    # (index-route stats proof or the paging limit; plans/bounds.py
    # carrier, hardened r12 — type-checked, never column-shadowed), so
    # bounded seed sets skip the eager materialize+count job entirely —
    # the lazy checkpoint's blocks ride the first consuming action. The
    # bound is strategy-only (broadcast licensing), never a row source.
    acc, n_frontier = keyset.proven(seeds.select("path"), proven_path_bound(seeds), checkpoint=True)
    frontier = acc
    for level in levels:
        targets = _hop(infotons, t, frontier, n_frontier, level.fields, reverse=False, stats=stats)
        new = targets.join(acc, "path", "left_anti")
        # stats-proof elision of the per-level count job (r11, the same
        # discipline as search's path-set proof): the new frontier is a
        # subset of the hop's targets, so a predicate-stats bound on the
        # hop licenses the NEXT level's broadcast decision with zero extra
        # jobs. The lazy checkpoint still truncates lineage (no 2^levels
        # re-evaluation); its blocks materialize inside the next level's
        # hop or the final hydrate action. Unproven hops keep the
        # counted-checkpoint fallback.
        # (A literal-frontier route — collect each level and push src IN
        # (...) into the next scan, sample_neighborhood-style — was built
        # and REJECTED here: A/B at sf0.1 measured 3.24 s vs 1.71 s and
        # the same job count; under AQE each level's collect still runs
        # the same stage jobs the checkpoint would, plus py4j transfer.)
        frontier, n_frontier = keyset.proven(
            new, _stats_dst_bound(level.fields, False, stats), checkpoint=True
        )
        # acc itself is NOT re-checkpointed: it stays a flat union of
        # already-checkpointed frontiers, so its lineage is one node per
        # level (not exponential) and we skip a full materialization per
        # level — one less serial job under scheduler latency
        acc = acc.unionByName(frontier)
    return _hydrate(infotons, acc, limit)


def expand_paths(
    infotons: DataFrame,
    triples: DataFrame,
    seeds: DataFrame,
    yg: str | PathsExpansion,
    limit: int = XG_LIMIT,
    stats: dict | None = None,
) -> DataFrame:
    """J2 yg: walk each `|`-alternative segment chain from the seeds and
    keep the WHOLE discovered path (seeds + every intermediate + final)."""
    pe = parse_yg(yg) if isinstance(yg, str) else yg
    # seed-bound elision — same contract as expand_out
    seed_paths, n_seed = keyset.proven(
        seeds.select("path"), proven_path_bound(seeds), checkpoint=True
    )
    acc = seed_paths
    for path in pe.paths:
        # each |-alternative restarts from the seeds
        frontier, n_frontier = seed_paths, n_seed
        for seg in path.segments:
            reverse = isinstance(seg, ExpandUp)
            hopped = _hop(
                infotons, triples, frontier, n_frontier, seg.fields,
                reverse=reverse, stats=stats,
            )
            # stats-proof count elision, same contract as expand_out: the
            # hop result ⊆ the hop's stats-bounded target set
            frontier, n_frontier = keyset.proven(
                hopped, _stats_dst_bound(seg.fields, reverse, stats), checkpoint=True
            )
            # flat union of checkpointed frontiers — no per-segment
            # re-materialization of the accumulator (see expand_out)
            acc = acc.unionByName(frontier)
    return _hydrate(infotons, acc, limit)


def gqp_filter(
    infotons: DataFrame,
    triples: DataFrame,
    results: DataFrame,
    gqp: str | PathsExpansion,
    stats: dict | None = None,
) -> DataFrame:
    """J3 gqp: keep only result rows whose full segment chain reaches a
    non-empty population; adds nothing to the result set.

    Scale shape: the chain is evaluated BACKWARDS as path-set semi joins.
    For segments s1..sn, compute once the set S_i of paths from which the
    suffix s_i..s_n succeeds:  S_n+1 = (no constraint);  S_i = sources of
    s_i-edges whose target exists (ghost skip, J7), satisfies the per-level
    [qp] filter, and lies in S_i+1.  The final mask is one semi join of the
    results against S_1.  Every intermediate is a DISTINCT path set — never
    (orig, cur) pairs — so cost is O(|edges| + |paths|) per segment and
    independent of |results| x fan-out (the pair-carrying blowup this
    replaces).  A result survives if ANY `|`-alternative survives
    (gqpFilter wsutil/package.scala:751-849)."""
    pe = parse_gqp(gqp) if isinstance(gqp, str) else gqp
    survivor_sets = []
    for path in pe.paths:
        if not path.segments:
            continue
        later: DataFrame | None = None  # S_{i+1}; None = unconstrained suffix
        for seg in reversed(path.segments):
            reverse = isinstance(seg, ExpandUp)
            edges = _edges(triples, seg.fields, reverse)
            # valid targets: current infotons (ghost skip) meeting the filter
            tf = _target_filter(seg.fields)
            targets = infotons.where(F.col("current"))
            if tf is not None:
                targets = targets.where(tf)
            targets = targets.select("path")
            if later is not None:
                targets = targets.join(later, "path", "left_semi")
            later = (
                edges.join(targets.withColumnRenamed("path", "dst"), "dst", "left_semi")
                .select(F.col("src").alias("path"))
                .distinct()
            )
        survivor_sets.append(later)
    if not survivor_sets:
        return results
    survivors = reduce(lambda a, b: a.unionByName(b), survivor_sets).distinct()
    # counted-broadcast the mask (same contract as search's candidate
    # hydration): an SMJ here would exchange the WIDE result rows before
    # AQE sees the survivor count; the survivor set is a narrow distinct
    # path frame, cheap to checkpoint + count. Stats-proof elision (r11):
    # each alternative's survivors are SOURCES of its first segment's
    # edges, so the summed per-alternative source bound (dsubj forward /
    # dobj reverse) licenses the broadcast with zero extra jobs; only
    # unproven chains pay the counted checkpoint.
    bound: int | None = 0
    for path in pe.paths:
        if not path.segments:
            continue
        seg1 = path.segments[0]
        b = _stats_dst_bound(seg1.fields, not isinstance(seg1, ExpandUp), stats)
        if b is None:
            bound = None
            break
        bound += b
    survivors, n_survivors = keyset.proven(survivors, bound)
    return keyset.keep(results, "path", survivors, n_survivors)
