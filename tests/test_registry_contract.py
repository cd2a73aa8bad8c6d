"""Registry-consumer contract: every name a harness consumes must
resolve against __spark_entry__.

The r10 family consolidations removed registry keys
(ann_topk_lsh/ann_topk_ivf → ann_variants, dedup_against[_fuzzy] →
dedup_against_levels) without updating bench.py or test_plan_shapes.py
— the driver bench crashed with a KeyError and 5 plan-shape guards
went dead (VERDICT r10 "What's wrong" #1-#3). These assertions make
that class of rot impossible: they run in milliseconds with no Spark
session, so they fail FIRST on any future key rename.

Resolution rule (shared with bench.py and test_plan_shapes._query_fn):
a name is valid iff it is a queries() key OR the module defines a
``q_<name>`` function (the consolidated members' per-variant functions
are intentionally kept so guards retain their original budgets)."""

import __spark_entry__ as entrymod
import bench
import test_plan_shapes  # same top-level name pytest imports it under


def _resolvable(name, registry):
    return name in registry or callable(
        getattr(entrymod, "q_" + name, None)
    )


def test_bench_headline_names_resolve():
    registry = entrymod.queries()
    missing = [n for n in bench.HEADLINE if not _resolvable(n, registry)]
    assert not missing, missing


def test_plan_shape_names_resolve():
    registry = entrymod.queries()
    names = set(test_plan_shapes.SHAPES) | {"ann_topk_lsh", "lm_score"}
    missing = [n for n in names if not _resolvable(n, registry)]
    assert not missing, missing


def test_oracle_keys_are_registry_keys():
    """Driver contract: oracle_sql() keys must be queries() keys —
    an oracle for a removed row would silently never run."""
    registry = entrymod.queries()
    stray = sorted(set(entrymod.oracle_sql()) - set(registry))
    assert not stray, stray


def test_registry_has_100_rows():
    """The rotation-window arithmetic (50-row driver window, r9∪r10
    union coverage) assumes exactly 100 rows; a silent grow/shrink
    breaks the disjoint-window invariant."""
    assert len(entrymod.queries()) == 100


def test_bench_flags_queries_next_to_a_slow_canary():
    """Load present from the start of a run lifts the first checkpoints
    only; the queries beside them are flagged, the rest are not."""
    floor = bench.CANARY_FLOOR
    names = ["a", "b", "c"]
    canaries = [5 * floor, 2.5 * floor, floor, 1.1 * floor]
    before, flagged = bench._query_contention(names, canaries)
    assert before == {n: round(c, 3) for n, c in zip(names, canaries)}
    assert flagged == ["a", "b"]
    assert bench._query_contention(names, [floor] * 4)[1] == []
