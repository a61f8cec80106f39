"""Pattern matching: scans + conjunctive hypothesis joins.

The reference matches one signed triple pattern at a time against an
indexed store (src/dataset.rs:24-44) and combines per-pattern matches by
DFS backtracking with unification (src/rule/mod.rs:160-207,
src/utils/search.rs:34-75).  Spark-first re-expression: each pattern is a
filtered **scan** (constant positions become Catalyst-pushed predicates),
and the backtracking product becomes a cascade of **equi-joins on shared
variables** — set-at-a-time instead of tuple-at-a-time.  Catalyst/AQE
picks broadcast vs sort-merge per join and mitigates skewed hub keys
(rdf:type / sameAs) via adaptive skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rules import Rule, SignedPattern, Var
from ..terms import Term

ConstIds = dict  # Term -> int64 id


def _pattern_proj(pattern: SignedPattern) -> dict[int, str]:
    """First store position (s/p/o) binding each pattern variable —
    driver-side mirror of the projection ``scan_pattern`` emits, so
    callers can know a scan's output columns without forcing analysis
    of the scan plan (``DataFrame.columns`` analyzes the whole subtree
    on every fresh frame; at ~2 ms a call that was a measurable share
    of the per-round driver floor — see OPTIMIZATION_r06.md)."""
    proj: dict[int, str] = {}
    for pos_name, node in zip(("s", "p", "o"), pattern.positions()):
        if isinstance(node, Var) and node.index not in proj:
            proj[node.index] = pos_name
    return proj


def pattern_out_cols(pattern: SignedPattern) -> list[str]:
    """Output columns of ``scan_pattern`` for this pattern."""
    proj = _pattern_proj(pattern)
    if not proj:
        return ["_ground"]
    return [f"v{i}" for i in sorted(proj)]


def scan_pattern(
    triples: DataFrame,
    pattern: SignedPattern,
    const_ids: ConstIds,
    p_buckets: int | None = None,
) -> DataFrame:
    """Match one signed pattern; returns the variable bindings it induces.

    - constant position ⇒ pushed-down equality predicate
      (reference ResourceOrVar::matching constant arm, src/pattern/mod.rs:32-39)
    - repeated variable ⇒ intra-row equality (non-linear pattern,
      src/pattern/mod.rs:16-26)
    - pattern sign selects the store sign partition; on a store with no
      negative rows a negative pattern matches nothing — the closed-world
      blanket impl of src/dataset.rs:46-60.
    - ``p_buckets``: predicate-bucket count of a materialized graph
      (``Dataset.p_buckets`` from ``pipelines.webkg.read_graph``); a
      constant-``p`` pattern then also filters on the ``p_bucket``
      partition column, so the parquet scan prunes to one bucket
      directory — the reference's canonical-pattern index
      (src/pattern/map.rs:13-25) as Hive-style partition pruning.  The
      predicate is only added when ``p_bucket`` is actually among the
      store's columns (a wrapped/projected frame may have dropped it).

    Output columns: ``v{i}`` for each variable ``i`` in the pattern.
    """
    n_p_buckets = p_buckets if "p_bucket" in triples.columns else None
    cond, sel, _cols = _build_scan(pattern, const_ids, n_p_buckets)
    out = triples.filter(cond)
    if sel is None:
        # fully-ground pattern: containment probe; one marker column
        return out.select(F.lit(1).alias("_ground")).limit(1)
    return out.select(*sel)


def _build_scan(
    pattern: SignedPattern, const_ids: ConstIds, n_p_buckets: int | None
) -> tuple["F.Column", list | None, list[str]]:
    """Build the (filter condition, projection, output columns) of one
    pattern scan.  Columns are immutable expression handles, so the
    result is reusable across every round of a fixpoint over the same
    rule — ``find_substitutions`` caches it per rule (the repeated
    construction was a measurable share of the per-round driver floor)."""
    cond = F.col("sign") == F.lit(bool(pattern.sign))
    proj: dict[int, str] = {}
    for pos_name, node in zip(("s", "p", "o"), pattern.positions()):
        if isinstance(node, Var):
            if node.index in proj:
                cond = cond & (F.col(pos_name) == F.col(proj[node.index]))
            else:
                proj[node.index] = pos_name
        elif isinstance(node, Term):
            cond = cond & (F.col(pos_name) == F.lit(const_ids[node]))
            if pos_name == "p" and n_p_buckets:
                cond = cond & (
                    F.col("p_bucket") == F.lit(int(const_ids[node]) % int(n_p_buckets))
                )
        else:
            raise TypeError(f"pattern position must be Var or Term, got {node!r}")
    if not proj:
        return cond, None, ["_ground"]
    sel = [F.col(pos).alias(f"v{i}") for i, pos in sorted(proj.items())]
    return cond, sel, [f"v{i}" for i in sorted(proj)]


def _join_bindings(
    acc: DataFrame | None,
    acc_cols: list[str],
    nxt: DataFrame,
    nxt_cols: list[str],
) -> tuple[DataFrame, list[str]]:
    """Natural join on shared variable columns (binding-consistency join,
    reference PatternSubstitution::bind, src/pattern/mod.rs:77-93).
    Column sets are tracked driver-side (``*_cols``) so no intermediate
    plan is analyzed just to list its columns."""
    if acc is None:
        return nxt, list(nxt_cols)
    if "_ground" in nxt_cols:
        return acc.join(nxt.select(F.lit(1).alias("_g")), how="cross").drop("_g"), acc_cols
    shared = sorted((set(acc_cols) & set(nxt_cols)) - {"_ground"})
    if not shared:
        return acc.crossJoin(nxt), acc_cols + [c for c in nxt_cols if c not in acc_cols]
    out_cols = (
        shared
        + [c for c in acc_cols if c not in shared]
        + [c for c in nxt_cols if c not in shared]
    )
    return acc.join(nxt, on=shared, how="inner"), out_cols


def find_substitutions(
    store: DataFrame,
    rule: Rule,
    const_ids: ConstIds,
    delta: DataFrame | None = None,
    distinct: bool = True,
    p_buckets: int | None = None,
) -> DataFrame:
    """All substitutions satisfying the rule hypothesis (J1), optionally
    restricted to those touching at least one ``delta`` triple (J2).

    Full mode mirrors ``Rule::try_deduce_from(store, empty, None)``
    (src/rule/mod.rs:79-108).  Delta mode is the semi-naive step built on
    the reference's seeded API (``excluded_hypothesis``,
    src/rule/mod.rs:83,175-177): for each hypothesis slot *i*, slot *i*
    scans the (small) delta while the remaining slots scan the full
    store, then the per-slot variants are unioned and deduped.  AQE
    broadcasts the delta side at runtime when it is small.

    Returns a DataFrame with one column ``v{i}`` per hypothesis variable.
    """
    patterns = list(rule.hypothesis)
    if not patterns:
        # empty hypothesis: a single empty substitution (matches everything once)
        return store.sparkSession.range(1).select(F.lit(1).alias("_ground"))

    # bucket pruning applies to store-side scans only (the delta is an
    # in-flight DataFrame without the partition column)
    store_pb = p_buckets if "p_bucket" in store.columns else None

    # Per-rule scan-expression cache: a fixpoint re-enters here every
    # round with the same rule/const_ids — the scan Columns are identical
    # each time, so build them once and reuse (identity-checked against
    # const_ids; the cached entry holds a strong ref, so the id cannot be
    # recycled while the cache lives).
    sc = getattr(rule, "_scan_cache", None)
    if sc is None or sc[0] is not const_ids or sc[1] != store_pb:
        store_scans = [_build_scan(p, const_ids, store_pb) for p in patterns]
        delta_scans = (
            store_scans
            if not store_pb
            else [_build_scan(p, const_ids, None) for p in patterns]
        )
        sc = (const_ids, store_pb, store_scans, delta_scans)
        try:
            # Rule is a frozen dataclass: bypass the immutability guard for
            # this derived cache (it does not participate in eq/hash)
            object.__setattr__(rule, "_scan_cache", sc)
        except (AttributeError, TypeError):
            pass
    _, _, store_scans, delta_scans = sc

    def scan(src: DataFrame, j: int, is_delta: bool) -> tuple[DataFrame, list[str]]:
        cond, sel, cols = (delta_scans if is_delta else store_scans)[j]
        out = src.filter(cond)
        if sel is None:
            return out.select(F.lit(1).alias("_ground")).limit(1), cols
        return out.select(*sel), cols

    def one_variant(delta_slot: int | None) -> tuple[DataFrame, list[str]]:
        acc, acc_cols = None, []
        # match the delta slot first so the (small) delta seeds the cascade
        order = list(range(len(patterns)))
        if delta_slot is not None:
            order = [delta_slot] + [j for j in order if j != delta_slot]
        for j in order:
            src = delta if j == delta_slot else store
            nxt, nxt_cols = scan(src, j, j == delta_slot)
            acc, acc_cols = _join_bindings(acc, acc_cols, nxt, nxt_cols)
        return acc, acc_cols

    if delta is None:
        out, out_cols = one_variant(None)
    else:
        variants = [one_variant(i) for i in range(len(patterns))]
        out, out_cols = variants[0]
        for df, _cols in variants[1:]:
            out = out.unionByName(df)

    if "_ground" in out_cols and len(out_cols) > 1:
        out = out.drop("_ground")
    if distinct:
        out = out.dropDuplicates()
    return out
