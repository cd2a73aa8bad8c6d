"""Layer map of the traced run: which public functions become spans, and
how span counters become the per-layer metrics.

Layer names are the package's modules. Each CLI verb imports these
functions at call time, so replacing the module attribute is enough to
put a span around every call the verb makes.
"""

from __future__ import annotations

#: (span name, module, attribute path within the module)
_PATCHES = (
    ("session.load_tables", "greenmask_spark.session", "load_tables"),
    ("plan.build_plan", "greenmask_spark.plan", "build_plan"),
    ("plan.apply_plans", "greenmask_spark.plan", "apply_plans"),
    ("plan.apply_plan", "greenmask_spark.plan", "apply_plan"),
    ("subset.plan", "greenmask_spark.subset", "SubsetPlanner.plan"),
    ("sources.write_dump", "greenmask_spark.sources.io", "write_dump"),
    ("sources.read_dump", "greenmask_spark.sources.io", "read_dump"),
    ("validate.warnings", "greenmask_spark.validate", "validate_plans"),
    ("validate.diff_report", "greenmask_spark.validate.diff", "diff_report"),
    ("pipeline.run", "greenmask_spark.pipeline", "run_corpus_pipeline"),
    ("pipeline.build", "greenmask_spark.pipeline.corpus",
     "build_corpus_pipeline"),
    ("pipeline.sink", "greenmask_spark.functions.sampling",
     "write_training_shards"),
)

PLAN_SPANS = ("plan.build_plan", "plan.apply_plans", "plan.apply_plan")

#: per-layer metrics of the table verbs (dump, restore, validate)
TABLE_METRICS = (
    ("session.start_s", "s"),
    ("session.load_tables_s", "s"),
    ("plan.build_s", "s"),
    ("plan.py4j_calls", "count"),
    ("subset.plan_s", "s"),
    ("subset.rows_kept_ratio", "ratio"),
    ("sources.write_dump_s", "s"),
    ("sources.write_dump.task_cpu_s", "s"),
    ("sources.write_dump.core_util", "ratio"),
    ("sources.write_dump.driver_s", "s"),
    ("sources.write_dump.jobs", "count"),
    ("sources.write_dump.tasks", "count"),
    ("sources.write_dump.task_failures", "count"),
    ("sources.write_dump.scan_amplification", "ratio"),
    ("sources.write_dump.shuffle_write_bytes", "bytes"),
    ("sources.write_dump.spill_bytes", "bytes"),
    ("sources.write_dump.files_written", "count"),
    ("sources.write_dump.bytes_written", "bytes"),
    ("transformers.python_bytes_sent", "bytes"),
    ("transformers.python_bytes_returned", "bytes"),
    ("transformers.python_worker_s", "s"),
    ("sources.read_dump_s", "s"),
    ("sources.restore_s", "s"),
    ("sources.restore.task_cpu_s", "s"),
    ("sources.restore.scan_bytes", "bytes"),
    ("validate.warnings_s", "s"),
    ("validate.diff_s", "s"),
    ("validate.diff.jobs", "count"),
    ("validate.diff.driver_s", "s"),
    ("validate.diff.py4j_calls", "count"),
)

#: per-layer metrics of the corpus verb
CORPUS_METRICS = (
    ("pipeline.build_s", "s"),
    ("pipeline.build.jobs", "count"),
    ("pipeline.sink_s", "s"),
    ("pipeline.docs_kept_ratio", "ratio"),
    ("functions.dedup.candidate_pairs", "count"),
    ("functions.dedup.verified_pairs", "count"),
    ("functions.dedup.candidate_precision", "ratio"),
)

#: the fineweb preset's steps, each a span pipeline.step.<op>
CORPUS_STEPS = ("strip_html", "lang_id", "quality_filter", "gopher_filter",
                "repetition_filter", "c4_filter", "fuzzy_dedup", "scrub_pii")

#: added by the run itself: the overhead of a traced op over an
#: untraced one
RUN_METRICS = (
    ("trace.overhead_s", "s"),
)


def per_layer_units() -> list[tuple[str, str]]:
    """Every per-layer metric, in the order of BENCHMARK.json; every
    workload reports all of them, with 0 for a layer its verb does not
    reach."""
    return (list(TABLE_METRICS) + list(CORPUS_METRICS)
            + [(f"pipeline.step.{op}_s", "s") for op in CORPUS_STEPS]
            + list(RUN_METRICS))


def install(tracer) -> None:
    import importlib

    for layer, mod, path in _PATCHES:
        owner = importlib.import_module(mod)
        *outer, attr = path.split(".")
        for name in outer:
            owner = getattr(owner, name)
        tracer.patch(layer, owner, attr)
    _install_corpus_steps(tracer)


def _install_corpus_steps(tracer) -> None:
    """Re-register each fineweb step through the public extension point,
    wrapped in a span; the fuzzy step also keeps its input, so the dedup
    counts can be taken from it after the op."""
    from greenmask_spark.pipeline import corpus

    for op in CORPUS_STEPS:
        fn = corpus.CORPUS_STEPS[op]

        def traced(df, p, _fn=fn, _op=op):
            if _op == "fuzzy_dedup" and tracer.enabled:
                tracer.dedup_input = (df, dict(p))
            with tracer.span(f"pipeline.step.{_op}"):
                return _fn(df, p)

        corpus.register_corpus_step(op, traced, replace=True)
        tracer.on_close(lambda _op=op, _fn=fn: corpus.register_corpus_step(
            _op, _fn, replace=True))


def _sum(spans, name, key):
    return sum(s[key] for s in spans if s["name"] == name)


def _named(spans, *names):
    return [s for s in spans if s["name"] in names]


def layer_metrics(tracer, trace_id: str, wl, sample: dict,
                  nproc: int) -> dict[str, tuple[float, str]]:
    """Per-layer values of one traced op (0 where the op does not reach
    the layer)."""
    spans = tracer.trace_spans(trace_id)
    units = dict(per_layer_units())
    out = {name: 0.0 for name in units}
    out["session.load_tables_s"] = _sum(spans, "session.load_tables",
                                        "duration_s")
    plan = _named(spans, *PLAN_SPANS)
    out["plan.build_s"] = sum(s["duration_s"] for s in plan)
    out["plan.py4j_calls"] = sum(s["py4j_calls"] for s in plan)
    out["subset.plan_s"] = _sum(spans, "subset.plan", "duration_s")
    out["subset.rows_kept_ratio"] = getattr(wl, "rows_kept_ratio", 0.0)

    wd = _named(spans, "sources.write_dump")
    if wd:
        dur = sum(s["duration_s"] for s in wd)
        run_s = sum(s["task_run_s"] for s in wd)
        pre = "sources.write_dump"
        out[f"{pre}_s"] = dur
        out[f"{pre}.task_cpu_s"] = sum(s["task_cpu_s"] for s in wd)
        out[f"{pre}.core_util"] = run_s / (dur * nproc) if dur else 0.0
        out[f"{pre}.driver_s"] = sum(s["driver_s"] for s in wd)
        for k in ("jobs", "tasks", "task_failures", "shuffle_write_bytes",
                  "spill_bytes"):
            out[f"{pre}.{k}"] = sum(s[k] for s in wd)
        out[f"{pre}.scan_amplification"] = (
            sum(s["scan_bytes"] for s in wd) / wl.input_bytes())
        out[f"{pre}.files_written"] = sample.get("files_written", 0)
        out[f"{pre}.bytes_written"] = sample.get("bytes_written", 0)

    for k in ("python_bytes_sent", "python_bytes_returned",
              "python_worker_s"):
        out[f"transformers.{k}"] = sum(s[k] for s in spans)

    out["sources.read_dump_s"] = _sum(spans, "sources.read_dump",
                                      "duration_s")
    out["sources.restore_s"] = _sum(spans, "verb.restore", "duration_s")
    restore = _named(spans, "verb.restore", "sources.read_dump")
    out["sources.restore.task_cpu_s"] = sum(s["task_cpu_s"] for s in restore)
    out["sources.restore.scan_bytes"] = sum(s["scan_bytes"] for s in restore)

    out["validate.warnings_s"] = _sum(spans, "validate.warnings",
                                      "duration_s")
    # the diff jobs run in the verb's own body (its count() calls), so
    # the diff layer is the verb's self time plus the diff_report builds
    diff = _named(spans, "validate.diff_report")
    verb = _named(spans, "verb.validate")
    out["validate.diff_s"] = (sum(s["self_s"] for s in verb)
                              + sum(s["duration_s"] for s in diff))
    out["validate.diff.jobs"] = sum(s["jobs"] for s in verb + diff)
    out["validate.diff.driver_s"] = sum(s["driver_s"] for s in verb + diff)
    out["validate.diff.py4j_calls"] = (
        sum(s["self_py4j_calls"] for s in verb)
        + sum(s["py4j_calls"] for s in diff))

    if wl.name == "corpus_fineweb":
        build = _named(spans, "pipeline.build")
        out["pipeline.build_s"] = sum(s["duration_s"] for s in build)
        out["pipeline.build.jobs"] = sum(s["jobs"] for s in build) + sum(
            s["jobs"] for s in spans if s["name"].startswith("pipeline.step."))
        out["pipeline.sink_s"] = _sum(spans, "pipeline.sink", "duration_s")
        for op in CORPUS_STEPS:
            out[f"pipeline.step.{op}_s"] = _sum(
                spans, f"pipeline.step.{op}", "duration_s")
        out["pipeline.docs_kept_ratio"] = (
            sample.get("docs_out", 0) / wl.input_rows())
        cand, verified = dedup_counts(tracer)
        out["functions.dedup.candidate_pairs"] = cand
        out["functions.dedup.verified_pairs"] = verified
        out["functions.dedup.candidate_precision"] = (
            verified / cand if cand else 0.0)
    return {k: (v, units[k]) for k, v in out.items()}


def dedup_counts(tracer) -> tuple[int, int]:
    """Candidate and verified pairs of the fuzzy step's input, through the
    public ``minhash_candidates`` and ``ngram_jaccard`` with the step's
    own parameters. Counted once per run: the input is fixed by the seed."""
    if tracer.dedup_result is not None:
        return tracer.dedup_result
    got = tracer.dedup_input
    if got is None:
        return 0, 0
    from pyspark.sql import functions as F

    from greenmask_spark.functions.dedup import (
        minhash_candidates,
        ngram_jaccard,
        optimal_lsh_params,
    )

    df, p = got
    num_perm = int(p.get("num_perm", 16))
    threshold = float(p.get("min_jaccard", p.get("threshold", 0.8)))
    bands = int(p["bands"]) if "bands" in p else optimal_lsh_params(
        float(p["threshold"]), num_perm)[0]
    text, ident, k = p.get("text_col", "text"), p.get("id_col", "doc_id"), \
        int(p.get("k", 5))
    pairs = minhash_candidates(df, text, ident, num_perm=num_perm,
                               bands=bands, k=k).persist()
    try:
        cand = pairs.count()
        verified = ngram_jaccard(df, pairs, text, ident, k=k).filter(
            F.col("jaccard") >= threshold).count()
    finally:
        pairs.unpersist()
    tracer.dedup_result = (cand, verified)
    return cand, verified

