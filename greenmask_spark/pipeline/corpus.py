"""Config-driven corpus pipeline: the training-data analog of the
masking plan (plan/planner.py) — a YAML/JSON step list compiled to ONE
composed DataFrame plan over a documents table.

The reference's config drives per-table transformer chains
(internal/domains/config.go); this drives the corpus toolkit the same
way: declarative steps, validated up front, lazily composed so Catalyst
sees the whole pipeline (filters reorder/push down across steps).
Composition is lazy with three declared exceptions: ``fuzzy_dedup``
(and ``cluster_split``, which clusters the same way) and
``semantic_dedup`` contain an iterative connected-components fixpoint
whose rounds EXECUTE during composition (eager checkpoints + a
convergence probe per round) — place them after the cheap filters so
the fixpoint runs on the already-reduced corpus. ``fuzzy_dedup`` and
``cluster_split`` also materialize their input once with an eager
localCheckpoint, which the signatures, the verification and the
cluster join read instead of re-running the upstream steps; after
``fuzzy_dedup`` every later step and the sink read it too. The third
exception, ``checkpoint``, writes the pipeline state to parquet eagerly on purpose
(lineage cut / resume point).

Example::

    steps:
      - op: normalize_urls
        domain_col: domain
      - op: blocklist
        domains: [spam.example]
        domain_col: domain
      - op: cap_per_domain
        max_docs: 100000
        domain_col: domain
      - op: dedup_exact
      - op: dedup_lines
      - op: quality_filter
        min_quality: 0.25
        langs: [en]
      - op: fuzzy_dedup
        num_perm: 16
        threshold: 0.8      # derives (bands, rows) via the S-curve
                            # solver and sets the verification bar;
                            # explicit bands/min_jaccard override
      - op: join_embeddings
      - op: semantic_dedup
        dim: 64
      - op: scrub_pii
      - op: hash_split
        weights: {train: 0.98, val: 0.01, test: 0.01}
      - op: pack_sequences
        max_tokens: 4096

Multi-source mixtures: replace ``input`` with ``inputs`` (name → spec)
plus ``mixture: {rates: {...}}``. Expression-only steps also compose
onto Structured Streaming inputs (see tests).

Every step takes and returns a DataFrame with at least (doc_id, text);
steps that add columns (split, seq_id, ...) document them below.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Step = Callable[[DataFrame, dict], DataFrame]


def _step_dedup_exact(df: DataFrame, p: dict) -> DataFrame:
    from greenmask_spark.functions.dedup import dedup_exact

    return dedup_exact(df, p.get("text_col", "text"), p.get("id_col", "doc_id"))


def _step_dedup_lines(df: DataFrame, p: dict) -> DataFrame:
    from greenmask_spark.functions.dedup import dedup_lines

    text_col, id_col = p.get("text_col", "text"), p.get("id_col", "doc_id")
    deduped = dedup_lines(df, text_col, id_col, sep=p.get("sep", "\n"))
    # dedup_lines returns (id, text); re-attach the other columns
    others = df.drop(text_col)
    return (
        others.join(deduped.withColumnsRenamed({"id": id_col, "text": text_col}),
                    id_col)
        .select(*df.columns)
    )


def _step_fuzzy_dedup(df: DataFrame, p: dict) -> DataFrame:
    """``threshold`` (without explicit ``bands``) derives the banding
    from the S-curve solver — configs state the Jaccard level they
    care about instead of hand-tuning (bands, rows); an explicit
    ``bands`` always wins. ``threshold`` also defaults the
    verification bar (``min_jaccard``) unless given separately."""
    from greenmask_spark.functions.dedup import (
        fuzzy_dedup,
        optimal_lsh_params,
    )

    num_perm = int(p.get("num_perm", 16))
    if "bands" in p or "threshold" not in p:
        bands = int(p.get("bands", 4))
    else:
        bands, _ = optimal_lsh_params(float(p["threshold"]), num_perm)
    return fuzzy_dedup(
        df,
        p.get("text_col", "text"),
        p.get("id_col", "doc_id"),
        num_perm=num_perm,
        bands=bands,
        k=int(p.get("k", 5)),
        min_jaccard=p.get("min_jaccard", p.get("threshold")),
    )


def _step_quality_filter(df: DataFrame, p: dict) -> DataFrame:
    """Filter on expression-computable text stats (no shuffle): quality
    score, token count bounds, language allowlist, punctuation ceiling."""
    from greenmask_spark.functions.text_analysis import (
        lang_id,
        punct_ratio,
        quality_score,
        token_count,
    )

    t = F.col(p.get("text_col", "text"))
    out = df
    if "min_quality" in p:
        out = out.filter(quality_score(t) >= float(p["min_quality"]))
    if "min_tokens" in p:
        out = out.filter(token_count(t) >= int(p["min_tokens"]))
    if "max_tokens" in p:
        out = out.filter(token_count(t) <= int(p["max_tokens"]))
    if "max_punct_ratio" in p:
        out = out.filter(punct_ratio(t) <= float(p["max_punct_ratio"]))
    if "langs" in p:
        out = out.filter(lang_id(t).isin([str(x) for x in p["langs"]]))
    return out


def _step_gopher_filter(df: DataFrame, p: dict) -> DataFrame:
    """The published Gopher document-quality rule bundle (Rae et al.
    2021 appendix A1.1) as one scan-bandwidth filter; ``flags_col``
    keeps the per-rule struct for audit-mode hit-rate analysis."""
    from greenmask_spark.functions.text_analysis import gopher_filter

    return gopher_filter(
        df,
        text_col=p.get("text_col", "text"),
        flags_col=p.get("flags_col"),
    )


def _step_c4_filter(df: DataFrame, p: dict) -> DataFrame:
    """The C4 cleaning pass (Raffel et al. 2020 §2.2): line-level
    terminal-punctuation/min-words/javascript rules rewrite the text
    column, page-level sentence-count/lorem-ipsum/curly-brace rules
    drop pages; ``flags_col`` switches to audit mode;
    ``require_terminal_punct: false`` is the FineWeb line-rule
    variant."""
    from greenmask_spark.functions.text_analysis import c4_filter

    return c4_filter(
        df,
        text_col=p.get("text_col", "text"),
        min_words=int(p.get("min_words", 3)),
        min_sentences=int(p.get("min_sentences", 5)),
        flags_col=p.get("flags_col"),
        require_terminal_punct=bool(
            p.get("require_terminal_punct", True)),
    )


def _step_repetition_filter(df: DataFrame, p: dict) -> DataFrame:
    """Drop docs above Gopher/C4-style repetition thresholds (needs the
    per-doc bigram aggregation — one map-side-combined shuffle)."""
    from greenmask_spark.functions.text_analysis import repetition_profile

    id_col = p.get("id_col", "doc_id")
    prof = repetition_profile(
        df, p.get("text_col", "text"), id_col
    ).withColumnsRenamed({"id": id_col})
    cond = F.lit(True)
    if "max_dup_line_frac" in p:
        cond = cond & (F.col("dup_line_frac") <= float(p["max_dup_line_frac"]))
    if "max_top_bigram_frac" in p:
        cond = cond & (
            F.col("top_bigram_frac") <= float(p["max_top_bigram_frac"])
        )
    keep = prof.filter(cond).select(id_col)
    return df.join(keep, id_col, "left_semi")


def _step_scrub_pii(df: DataFrame, p: dict) -> DataFrame:
    from greenmask_spark.functions.text_analysis import scrub_pii

    text_col = p.get("text_col", "text")
    kinds = tuple(p["kinds"]) if "kinds" in p else None
    return df.withColumn(text_col, scrub_pii(F.col(text_col), kinds))


def _step_hash_split(df: DataFrame, p: dict) -> DataFrame:
    from greenmask_spark.functions.sampling import hash_split

    return hash_split(
        df,
        weights={k: float(v) for k, v in p["weights"].items()}
        if "weights" in p else None,
        key_col=p.get("id_col", "doc_id"),
        seed=int(p.get("seed", 42)),
    )


def _step_hash_sample(df: DataFrame, p: dict) -> DataFrame:
    from greenmask_spark.functions.sampling import hash_sample

    return hash_sample(
        df, float(p["fraction"]), p.get("id_col", "doc_id"),
        int(p.get("seed", 42)),
    )


def _step_pack_sequences(df: DataFrame, p: dict) -> DataFrame:
    """Adds (seq_id, seq_pos, seq_offset, overflow); computes n_tokens
    from the text when the column is absent."""
    from greenmask_spark.functions.sampling import pack_sequences
    from greenmask_spark.functions.text_analysis import token_count

    id_col = p.get("id_col", "doc_id")
    token_col = p.get("token_col", "n_tokens")
    src = df
    if token_col not in src.columns:
        src = src.withColumn(
            token_col, token_count(F.col(p.get("text_col", "text")))
        )
    packed = pack_sequences(
        src,
        token_col=token_col,
        id_col=id_col,
        max_tokens=int(p.get("max_tokens", 4096)),
        n_packers=int(p.get("n_packers", 256)),
        seed=int(p.get("seed", 42)),
        sep_tokens=int(p.get("sep_tokens", 0)),
        strategy=p.get("strategy", "sequential"),
    ).withColumnsRenamed({"id": id_col, "n_tokens": token_col})
    return src.join(packed.drop(token_col), id_col)


def _step_join_embeddings(df: DataFrame, p: dict) -> DataFrame:
    """Attach an embedding column from a side table (vec_id ↔ id_col
    equi-join). Needs pipeline context (spark/sf_dir) to resolve the
    table — available when run via ``run_corpus_pipeline``."""
    ctx = p.get("_context") or {}
    if "spark" not in ctx:
        raise ValueError("join_embeddings needs run_corpus_pipeline context")
    emb = _load_input(
        ctx["spark"],
        {"table": p.get("table", "embeddings")} if "path" not in p
        else {"path": p["path"], "format": p.get("format", "parquet")},
        ctx.get("sf_dir"),
    )
    id_col = p.get("id_col", "doc_id")
    emb = emb.select(
        F.col(p.get("vec_id_col", "vec_id")).alias(id_col),
        F.col(p.get("vec_col", "embedding")).alias(
            p.get("out_col", "embedding")),
    )
    return df.join(emb, id_col, p.get("how", "inner"))


def _step_semantic_dedup(df: DataFrame, p: dict) -> DataFrame:
    """SemDeDup over a previously-joined embedding column; centroids are
    the deterministic hash grid (dim is required — the pipeline never
    runs an action to infer it)."""
    from greenmask_spark.functions.similarity import (
        hash_centroids,
        semantic_dedup,
    )

    if "dim" not in p:
        raise ValueError("semantic_dedup needs 'dim' (embedding width)")
    cents = hash_centroids(
        int(p["dim"]), int(p.get("n_centroids", 16)), int(p.get("seed", 42))
    )
    return semantic_dedup(
        df,
        cents,
        threshold=float(p.get("threshold", 0.95)),
        id_col=p.get("id_col", "doc_id"),
        vec_col=p.get("vec_col", "embedding"),
        n_blocks=int(p.get("n_blocks", 2)),
    )


def _step_checkpoint(df: DataFrame, p: dict) -> DataFrame:
    """Materialize the pipeline state to parquet and continue from the
    files — the lineage cut for long chains (a 15-step plan over 100 TB
    otherwise re-executes every upstream stage on any downstream task
    retry, and the CC-fixpoint steps compose eagerly against whatever
    precedes them). Also the RESUME point: a rerun whose config is
    unchanged up to this step can start from ``path`` directly.
    Executes eagerly by design (that is the point) — place it after the
    expensive early stages, before the experimental tail."""
    if "path" not in p:
        raise ValueError("checkpoint needs a 'path'")
    df.write.mode(p.get("mode", "overwrite")).parquet(p["path"])
    return df.sparkSession.read.parquet(p["path"])


def _step_strip_html(df: DataFrame, p: dict) -> DataFrame:
    """Markup removal for crawled documents (script/style blocks drop
    with content, block closers become newlines, entities decode) —
    run FIRST on raw-HTML corpora, before any text stat or dedup."""
    from greenmask_spark.functions.text_analysis import strip_html

    text_col = p.get("text_col", "text")
    return df.withColumn(text_col, strip_html(
        F.col(text_col), collapse_ws=bool(p.get("collapse_ws", True))))


def _step_normalize_text(df: DataFrame, p: dict) -> DataFrame:
    from greenmask_spark.functions.text_analysis import normalize_text

    text_col = p.get("text_col", "text")
    return df.withColumn(text_col, normalize_text(
        F.col(text_col),
        form=p.get("form", "NFKC"),
        lowercase=bool(p.get("lowercase", True)),
        strip_punct=bool(p.get("strip_punct", False)),
        collapse_ws=bool(p.get("collapse_ws", True)),
    ))


def _step_normalize_urls(df: DataFrame, p: dict) -> DataFrame:
    """Rewrite a URL column to canonical form; optionally derive a
    domain column (the key for blocklists / caps)."""
    from greenmask_spark.functions.web import normalize_url, url_domain

    url_col = p.get("url_col", "url")
    out = df.withColumn(url_col, normalize_url(F.col(url_col)))
    if p.get("domain_col"):
        out = out.withColumn(
            p["domain_col"],
            url_domain(F.col(url_col),
                       registered_only=bool(p.get("registered_only", False))),
        )
    return out


def _step_blocklist(df: DataFrame, p: dict) -> DataFrame:
    """Drop docs from blocked domains; ``domains`` inline list or a
    {table/path} spec resolved through pipeline context."""
    from greenmask_spark.functions.web import filter_blocklist

    if "domains" in p:
        spark = df.sparkSession
        bl = spark.createDataFrame(
            [(str(d),) for d in p["domains"]], ["domain"])
    else:
        ctx = p.get("_context") or {}
        if "spark" not in ctx or "source" not in p:
            raise ValueError("blocklist needs 'domains' or a 'source' spec")
        bl = _load_input(ctx["spark"], p["source"], ctx.get("sf_dir"))
    return filter_blocklist(
        df, bl, url_col=p.get("url_col", "url"),
        domain_col=p.get("domain_col"),
    )


def _step_robots_filter(df: DataFrame, p: dict) -> DataFrame:
    """Drop docs whose URL a robots.txt rule set disallows
    (web.parse_robots + web.robots_filter). Robots bodies come inline
    (``robots``: list of [domain, text] pairs — fixture/test scale) or
    as a {table/path} ``source`` spec of (domain, text) rows resolved
    through pipeline context (the crawl-scale path: robots records are
    themselves WARC rows)."""
    from greenmask_spark.functions.web import parse_robots, robots_filter

    if "robots" in p:
        spark = df.sparkSession
        bodies = spark.createDataFrame(
            [(str(d), str(t)) for d, t in p["robots"]],
            ["domain", "text"])
    else:
        ctx = p.get("_context") or {}
        if "spark" not in ctx or "source" not in p:
            raise ValueError(
                "robots_filter needs 'robots' or a 'source' spec")
        bodies = _load_input(ctx["spark"], p["source"], ctx.get("sf_dir"))
    return robots_filter(
        df, parse_robots(bodies), url_col=p.get("url_col", "url"))


def _step_cap_per_domain(df: DataFrame, p: dict) -> DataFrame:
    from greenmask_spark.functions.web import cap_per_domain

    return cap_per_domain(
        df,
        int(p["max_docs"]),
        domain_col=p.get("domain_col", "source"),
        key_col=p.get("id_col", "doc_id"),
        seed=int(p.get("seed", 42)),
    )


def _step_domain_gate(df: DataFrame, p: dict) -> DataFrame:
    """Drop every document whose DOMAIN fails a mean-signal gate (the
    FineWeb domain-level curation pass, functions/web.domain_profile):
    per-domain means of ``signals`` are computed over the exact
    DECIMAL lattice, domains outside any ``gates`` range (signal ->
    [min_mean, max_mean], null = unbounded; domains with no scored
    docs fail closed) are removed WITH all their documents. A NULL /
    unparseable URL pools under the NULL domain, which is gated like
    any other. Two passes over the input (the tiny profile + the
    broadcast-semi-join back), so a non-deterministic input is pinned
    first — the cap_per_domain rule."""
    from greenmask_spark.functions.web import domain_profile, url_domain
    from greenmask_spark.plan.health import plan_has_nondeterministic

    if plan_has_nondeterministic(df):
        df = df.localCheckpoint(eager=True)
    url_col = p.get("url_col", "url")
    signals = tuple(p["signals"])
    gates = {k: (v[0], v[1]) for k, v in dict(p["gates"]).items()}
    ro = bool(p.get("registered_only", False))
    prof = domain_profile(
        df, url_col, signals, registered_only=ro, gates=gates
    )
    kept = prof.filter(F.col("kept")).select(
        F.col("domain").alias("__dg_dom")
    )
    dom = url_domain(F.col(url_col), registered_only=ro)
    dom = F.when(dom == "", F.lit(None)).otherwise(dom)
    return (
        df.withColumn("__dg_d", dom)
        .join(
            F.broadcast(kept),
            F.col("__dg_d").eqNullSafe(F.col("__dg_dom")),
            "left_semi",
        )
        .drop("__dg_d")
    )


def _step_cluster_split(df: DataFrame, p: dict) -> DataFrame:
    """Leakage-safe split: fuzzy-dedup clusters computed inline (same
    params as fuzzy_dedup), split hash keyed on the cluster id so near
    duplicates never straddle the train/test boundary. Eager-composition
    note as for fuzzy_dedup (CC fixpoint)."""
    from greenmask_spark.functions.dedup import dedup_clusters
    from greenmask_spark.functions.sampling import cluster_aware_split

    id_col = p.get("id_col", "doc_id")
    clusters = dedup_clusters(
        df,
        p.get("text_col", "text"),
        id_col,
        num_perm=int(p.get("num_perm", 16)),
        bands=int(p.get("bands", 4)),
        k=int(p.get("k", 5)),
        min_jaccard=p.get("min_jaccard"),
    )
    return cluster_aware_split(
        df,
        clusters,
        weights={k_: float(v) for k_, v in p["weights"].items()}
        if "weights" in p else None,
        key_col=id_col,
        seed=int(p.get("seed", 42)),
    )


def _step_linear_score(df: DataFrame, p: dict) -> DataFrame:
    """Attach a fastText-style classifier score column; optionally filter
    by min_score. Weights come from an inline {term: weight} map or a
    {table/path} spec via context."""
    from greenmask_spark.functions.text_analysis import linear_text_score

    spark = df.sparkSession
    if "weights" in p:
        w = spark.createDataFrame(
            [(str(t), float(x)) for t, x in p["weights"].items()],
            ["term", "weight"])
    else:
        ctx = p.get("_context") or {}
        if "spark" not in ctx or "source" not in p:
            raise ValueError("linear_score needs 'weights' or a 'source' spec")
        w = _load_input(ctx["spark"], p["source"], ctx.get("sf_dir"))
    id_col = p.get("id_col", "doc_id")
    out_col = p.get("out_col", "score")
    scored = linear_text_score(
        df, w, p.get("text_col", "text"), id_col,
        bias=float(p.get("bias", 0.0)),
        normalize=bool(p.get("normalize", True)),
    ).withColumnsRenamed({"id": id_col, "score": out_col})
    # overwrite semantics (like withColumn): a pre-existing column of the
    # same name would otherwise duplicate and break every later reference
    out = df.drop(out_col).join(scored, id_col, "left")
    if "min_score" in p:
        out = out.filter(F.col(out_col) >= float(p["min_score"]))
    return out


def _step_dedup_against(df: DataFrame, p: dict) -> DataFrame:
    """Incremental dedup against a REFERENCE corpus ({table}/{path}
    spec via pipeline context): drop documents duplicating
    already-ingested shards or a benchmark set, without re-clustering
    the union. ``level``: exact (digest anti-join) | fuzzy (shared
    MinHash band + optional ``min_jaccard`` verify).

    The reference spec may point at a PREPARED frame — the parquet
    output of ``functions.dedup.prepare_reference`` — which
    ``dedup_against`` detects by its ``__ref_*`` columns: the rolling-
    crawl shape where the reference is keyed once and every shard's
    pipeline run skips re-shingling it (num_perm/k of the prepare must
    match this step's params)."""
    from greenmask_spark.functions.dedup import (
        dedup_against,
        optimal_lsh_params,
    )

    ctx = p.get("_context") or {}
    if "spark" not in ctx or "reference" not in p:
        raise ValueError("dedup_against needs a 'reference' input spec "
                         "and pipeline context")
    ref = _load_input(ctx["spark"], p["reference"], ctx.get("sf_dir"))
    num_perm = int(p.get("num_perm", 16))
    if "bands" in p or "threshold" not in p:
        bands = int(p.get("bands", 4))
    else:
        # same threshold-driven banding as fuzzy_dedup — but ONLY for
        # raw references; a prepared frame was banded at prepare time
        # and its num_perm/bands contract is validated downstream
        bands, _ = optimal_lsh_params(float(p["threshold"]), num_perm)
    return dedup_against(
        df, ref,
        text_col=p.get("text_col", "text"),
        id_col=p.get("id_col", "doc_id"),
        level=p.get("level", "exact"),
        num_perm=num_perm,
        bands=bands,
        k=int(p.get("k", 5)),
        min_jaccard=p.get("min_jaccard", p.get("threshold")),
    )


def _step_bloom_dedup(df: DataFrame, p: dict) -> DataFrame:
    """Approximate incremental dedup via a Bloom seen-set
    (functions/sketches.bloom_dedup_against): drop documents whose text
    digest MAY already be in the ``reference`` corpus. One-sided on the
    safe side — a true duplicate never survives; a novel document is
    dropped at the sized false-positive rate. Use instead of the exact
    ``dedup_against`` when the reference is too large to anti-join per
    shard: the reference reduces to a broadcastable bitmap built once.

    Sizing: either explicit ``num_bits``/``num_hashes``, or
    ``n_items`` (+ optional ``fp_rate``, default 0.01) through
    ``bloom_params``."""
    from greenmask_spark.functions.sketches import (
        bloom_dedup_against,
        bloom_params,
    )

    ctx = p.get("_context") or {}
    if "spark" not in ctx or "reference" not in p:
        raise ValueError("bloom_dedup needs a 'reference' input spec "
                         "and pipeline context")
    ref = _load_input(ctx["spark"], p["reference"], ctx.get("sf_dir"))
    if "n_items" in p:
        num_bits, num_hashes = bloom_params(
            int(p["n_items"]), float(p.get("fp_rate", 0.01))
        )
    else:
        num_bits = int(p.get("num_bits", 1 << 20))
        num_hashes = int(p.get("num_hashes", 5))
    return bloom_dedup_against(
        df, ref,
        text_col=p.get("text_col", "text"),
        num_bits=num_bits,
        num_hashes=num_hashes,
    )


def _step_select_to_budget(df: DataFrame, p: dict) -> DataFrame:
    """Token-budget corpus cut (functions/sampling.select_to_budget):
    keep the best documents by ``score_col`` until ``token_budget``
    tokens are selected — the final "top-quality N-token training set"
    step of a mixing run. ``token_col`` names a precomputed per-doc
    token count; omitted, whitespace token_count over ``text_col``
    (default ``text``) is derived on the fly and never leaves the
    step."""
    from greenmask_spark.functions.sampling import select_to_budget

    if "token_budget" not in p or not (
            "score_col" in p or "score_expr" in p):
        raise ValueError("select_to_budget needs 'token_budget' and "
                         "'score_col' (or 'score_expr')")
    score_col = p.get("score_col")
    if score_col is None:
        # a derived ranking, e.g. "-ppl" (CC-Net: lower perplexity =
        # better) — evaluated once, dropped after the cut
        score_col = "__budget_score"
        df = df.withColumn(score_col, F.expr(str(p["score_expr"])))
    token_col = p.get("token_col")
    derived = token_col is None
    if derived:
        from greenmask_spark.functions.text_analysis import token_count

        token_col = "__budget_tok"
        df = df.withColumn(
            token_col, token_count(F.col(p.get("text_col", "text")))
        )
    out = select_to_budget(
        df,
        int(p["token_budget"]),
        token_col=token_col,
        score_col=score_col,
        id_col=p.get("id_col", "doc_id"),
        n_buckets=int(p.get("n_buckets", 4096)),
    )
    return out.drop("__budget_tok", "__budget_score")


def _step_weighted_sample(df: DataFrame, p: dict) -> DataFrame:
    """Gumbel-top-k weighted draw (functions/sampling.weighted_sample):
    keep ``n`` documents with inclusion probability proportional to
    ``weight_col`` (e.g. a quality or DSIR weight attached by an
    earlier step). Hash-seeded, so the draw is reproducible across
    runs and partitionings."""
    from greenmask_spark.functions.sampling import weighted_sample

    if "n" not in p or "weight_col" not in p:
        raise ValueError("weighted_sample needs 'n' and 'weight_col'")
    return weighted_sample(
        df,
        int(p["n"]),
        weight_col=p["weight_col"],
        key_col=p.get("id_col", "doc_id"),
        seed=int(p.get("seed", 42)),
    )


def _step_bm25(df: DataFrame, p: dict) -> DataFrame:
    """Okapi BM25 relevance against a config ``query`` string: attach
    a ``score_col`` (default ``bm25``) and optionally keep only rows
    with ``min_score``/the ``top_n`` most relevant — config-driven
    corpus search ("which documents look like this prompt") without
    an embedding column."""
    from greenmask_spark.functions.text_analysis import bm25_scores

    if not p.get("query"):
        raise ValueError("bm25 needs a 'query' string")
    id_col = p.get("id_col", "doc_id")
    out_col = p.get("score_col", "bm25")
    # include_misses=False: the step's own attach join below already
    # touches every row, so bm25_scores's full-corpus ids join would be
    # a second redundant shuffle — misses surface here as NULL → 0.0
    scored = bm25_scores(
        df, str(p["query"]),
        text_col=p.get("text_col", "text"), id_col=id_col,
        k1=float(p.get("k1", 1.2)), b=float(p.get("b", 0.75)),
        include_misses=False,
    ).withColumnsRenamed({"id": id_col, "score": out_col})
    out = df.drop(out_col).join(scored, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0.0)))
    if "min_score" in p:
        out = out.filter(F.col(out_col) >= float(p["min_score"]))
    if "top_n" in p:
        out = out.orderBy(
            F.desc(out_col), F.asc(id_col)).limit(int(p["top_n"]))
    return out


def _step_remove_repeated_spans(df: DataFrame, p: dict) -> DataFrame:
    """ExactSubstr removal (Lee et al. 2022): cut every character
    covered by a corpus-repeated ``length``-char window (default 50,
    the paper's threshold) out of the documents. ``stride`` > 1 trades
    completeness for an s× smaller window stream (see
    functions/dedup.substring_spans); ``min_count`` raises the repeat
    bar; ``prefilter_buckets`` engages the exact heavy-hitter bucket
    prefilter for corpus-scale runs (see
    functions/dedup.repeated_substring_spans)."""
    from greenmask_spark.functions.dedup import remove_repeated_spans

    pb = p.get("prefilter_buckets")
    return remove_repeated_spans(
        df,
        text_col=p.get("text_col", "text"),
        id_col=p.get("id_col", "doc_id"),
        length=int(p.get("length", 50)),
        stride=int(p.get("stride", 1)),
        min_count=int(p.get("min_count", 2)),
        prefilter_buckets=None if pb is None else int(pb),
    )


def _step_dsir(df: DataFrame, p: dict) -> DataFrame:
    """DSIR data selection (Xie et al. 2023 — see
    functions/sampling.dsir_log_weights): attach a ``weight_col``
    (default ``dsir_logw``) importance log-weight against a target
    distribution, then optionally keep only rows with
    ``min_weight`` / the ``top_n`` by Gumbel-top-k (``select_n``
    samples; ``top_n`` ranks deterministically by weight). The target
    is either a ``target`` input spec ({table}/{path} via pipeline
    context) or ``target_filter`` — a SQL condition carving the
    target slice out of THIS frame (e.g. ``lang = 'en'``)."""
    from greenmask_spark.functions.sampling import (
        dsir_log_weights,
        dsir_resample,
    )

    id_col = p.get("id_col", "doc_id")
    out_col = p.get("weight_col", "dsir_logw")
    if "target" in p:
        ctx = p.get("_context") or {}
        if "spark" not in ctx:
            raise ValueError("dsir target input spec needs pipeline context")
        tgt = _load_input(ctx["spark"], p["target"], ctx.get("sf_dir"))
    elif p.get("target_filter"):
        tgt = df.filter(p["target_filter"])
    else:
        raise ValueError("dsir needs 'target' (input spec) or "
                         "'target_filter' (SQL condition)")
    from greenmask_spark.functions.sampling import DSIR_BUCKETS

    kw = dict(
        text_col=p.get("text_col", "text"), id_col=id_col,
        buckets=int(p.get("buckets", DSIR_BUCKETS)),
        smoothing=float(p.get("smoothing", 1.0)),
    )
    w = dsir_log_weights(df, tgt, **kw).withColumnsRenamed(
        {"id": id_col, "dsir_logw": out_col})
    out = df.drop(out_col).join(w, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0.0)))
    if "min_weight" in p:
        out = out.filter(F.col(out_col) >= float(p["min_weight"]))
    if "select_n" in p:
        keep = dsir_resample(
            df, tgt, int(p["select_n"]),
            seed=int(p.get("seed", 42)),
            weights=w.select(F.col(id_col).alias("id"),
                             F.col(out_col).alias("dsir_logw")),
            **kw,
        ).select(F.col("id").alias(id_col))
        out = out.join(keep, id_col, "left_semi")
    elif "top_n" in p:
        out = out.orderBy(
            F.desc(out_col), F.asc(id_col)).limit(int(p["top_n"]))
    return out


def _step_bpe_count(df: DataFrame, p: dict) -> DataFrame:
    """Attach a REAL token count column from a trained BPE merge table
    (``merges`` input spec — the (rank, left, right) parquet written
    via ``merges_to_df``), so downstream ``pack_sequences`` budgets in
    actual tokenizer tokens instead of a whitespace proxy. Only the
    merge TABLE is collected (a few 10k rows); counting runs as one
    Arrow-batched projection."""
    from greenmask_spark.functions.bpe import bpe_token_count, merges_from_df

    ctx = p.get("_context") or {}
    if "spark" not in ctx or "merges" not in p:
        raise ValueError("bpe_count needs a 'merges' input spec "
                         "and pipeline context")
    mdf = _load_input(ctx["spark"], p["merges"], ctx.get("sf_dir"))
    merges = merges_from_df(mdf)
    if not merges:
        raise ValueError(
            "bpe_count: the merges table at "
            f"{p['merges']!r} is empty — train_bpe produced no merges "
            "(corpus too small / min_pair_freq too high?) or the "
            "wrong path was given"
        )
    # preprocessing MUST match training: the merge frame records the
    # training-time lowercase/pretokenize flags (merges_to_df) —
    # honor them unless the config explicitly overrides
    meta = mdf.select(
        *(c for c in ("lowercase", "pretokenize") if c in mdf.columns)
    ).head()

    def _flag(name, default):
        if name in p:
            return p[name]
        if meta is not None and name in mdf.columns:
            return meta[name]
        return default

    return df.withColumn(
        p.get("token_col", "n_tokens"),
        bpe_token_count(
            F.col(p.get("text_col", "text")), merges,
            lowercase=bool(_flag("lowercase", True)),
            pretokenize=str(_flag("pretokenize", "whitespace")),
        ),
    )


def _step_ngram_novelty(df: DataFrame, p: dict) -> DataFrame:
    """Per-document n-gram novelty scoring (+ optional floor): attach
    the fraction of each doc's distinct word ``n``-grams (default 8)
    whose first corpus occurrence is that doc (dedup.ngram_novelty —
    the redundancy measure boilerplate quilts evade near-dup dedup
    with), then optionally drop docs below ``min_novelty``. Docs with
    fewer than ``n`` tokens score NULL and are KEPT by the floor (they
    are unscorable, not redundant — the lm_score/ppl convention);
    pure DataFrame composition, safe under --describe."""
    from greenmask_spark.functions.dedup import ngram_novelty

    id_col = p.get("id_col", "doc_id")
    nov_col = p.get("novelty_col", "novelty")
    nov = ngram_novelty(
        df, n=int(p.get("n", 8)),
        text_col=p.get("text_col", "text"), id_col=id_col,
    ).select(id_col, F.col("novelty").alias(nov_col))
    out = df.join(nov, id_col, "left")
    if "min_novelty" in p:
        thr = float(p["min_novelty"])
        out = out.filter(
            F.col(nov_col).isNull() | (F.col(nov_col) >= F.lit(thr))
        )
    return out


def _step_script(df: DataFrame, p: dict) -> DataFrame:
    """Unicode-script gate (+ optional allowlist): attach main_script
    and per-script fractions (text_analysis.script_profile — the
    FineWeb/CC-Net script router, orthogonal to the stopword
    lang_id), then optionally keep only docs whose main_script is in
    ``keep`` (list of SCRIPT_ORDER names, plus 'und'). Empty/NULL
    docs score NULL metrics and are KEPT by the gate (unscorable, not
    wrong-script — the NULL contract); pure expressions, safe under
    --describe."""
    from greenmask_spark.functions.text_analysis import script_profile

    id_col = p.get("id_col", "doc_id")
    prof = script_profile(
        df, text_col=p.get("text_col", "text"), id_col=id_col,
    ).select(id_col, "main_script")
    out = df.join(prof, id_col, "left")
    if "keep" in p:
        keep = [str(s) for s in p["keep"]]
        out = out.filter(
            F.col("main_script").isNull()
            | F.col("main_script").isin(keep)
        )
    return out


def _step_entropy(df: DataFrame, p: dict) -> DataFrame:
    """Character-distribution quality signals (+ optional floor):
    attach char_entropy / top_char_frac / distinct_chars
    (text_analysis.entropy_profile — the Dolma-style tagger that
    catches padding runs, ASCII-art and single-char floods the
    length/stopword/repetition gates miss), then optionally drop docs
    below ``min_char_entropy`` or above ``max_top_char_frac``.
    Empty/NULL-text docs score NULL and are KEPT by the gates
    (unscorable, not low-quality — the lm_score/ngram_novelty NULL
    contract); pure DataFrame composition, safe under --describe."""
    from greenmask_spark.functions.text_analysis import entropy_profile

    id_col = p.get("id_col", "doc_id")
    prof = entropy_profile(
        df, text_col=p.get("text_col", "text"), id_col=id_col,
    ).select(id_col, "distinct_chars", "char_entropy", "top_char_frac")
    out = df.join(prof, id_col, "left")
    if "min_char_entropy" in p:
        thr = float(p["min_char_entropy"])
        out = out.filter(
            F.col("char_entropy").isNull()
            | (F.col("char_entropy") >= F.lit(thr))
        )
    if "max_top_char_frac" in p:
        thr = float(p["max_top_char_frac"])
        out = out.filter(
            F.col("top_char_frac").isNull()
            | (F.col("top_char_frac") <= F.lit(thr))
        )
    return out


def _step_chunk(df: DataFrame, p: dict) -> DataFrame:
    """Fixed context-window chunking with overlap (sampling.
    chunk_documents — the RAG / long-context preprocessing step
    between cleaning and tokenize-and-pack): each document's token
    stream windows into ``max_tokens`` chunks advancing by
    ``max_tokens - overlap``; consecutive chunks share exactly
    ``overlap`` tokens and the final window anchors to the document
    end. The chunk text replaces ``text_col`` IN PLACE by default so
    every downstream step keeps composing — after this step the
    pipeline grain is (id columns, ``chunk_id``); pass ``chunk_col``
    to keep the original grain columns distinct. Whitespace-only
    documents drop (nothing to train on). Pure codegen'd expressions,
    zero exchanges, safe under --describe."""
    from greenmask_spark.functions.sampling import chunk_documents

    text_col = p.get("text_col", "text")
    return chunk_documents(
        df,
        text_col=text_col,
        max_tokens=int(p.get("max_tokens", 512)),
        overlap=int(p.get("overlap", 0)),
        chunk_id_col=p.get("chunk_id_col", "chunk_id"),
        chunk_col=p.get("chunk_col", text_col),
        count_col=p.get("count_col", "n_tokens"),
    )


def _step_decontaminate(df: DataFrame, p: dict) -> DataFrame:
    """GPT-3 Appendix-C benchmark decontamination: drop training docs
    sharing at least ``min_hits`` distinct word n-grams (default: any
    single 13-gram) with the ``benchmark`` input spec ({table}/{path})
    — the eval-leakage gate that runs before packing."""
    from greenmask_spark.functions.dedup import ngram_decontaminate

    ctx = p.get("_context") or {}
    if "spark" not in ctx or "benchmark" not in p:
        raise ValueError("decontaminate needs a 'benchmark' input spec "
                         "and pipeline context")
    bench = _load_input(ctx["spark"], p["benchmark"], ctx.get("sf_dir"))
    return ngram_decontaminate(
        df, bench,
        n=int(p.get("n", 13)),
        text_col=p.get("text_col", "text"),
        id_col=p.get("id_col", "doc_id"),
        bench_text_col=p.get("bench_text_col"),
        min_hits=int(p.get("min_hits", 1)),
        broadcast=bool(p.get("broadcast", True)),
    )


def _step_semantic_decontaminate(df: DataFrame, p: dict) -> DataFrame:
    """Semantic benchmark decontamination: drop docs whose EMBEDDING is
    too close (max cosine >= ``threshold``, 4-dp-rounded) to any vector
    of the ``benchmark`` input spec — the paraphrase-proof twin of
    ``decontaminate`` (n-gram collision misses translated/rephrased
    eval leakage). Compose after ``join_embeddings``. The benchmark
    matrix rides in the task closure (railed), so the corpus pays one
    Arrow pass, zero exchanges (similarity.semantic_decontaminate).
    Under --describe (empty dry-run frames) the benchmark collect is
    skipped and the frame passes through unchanged — the step adds no
    columns by default."""
    from greenmask_spark.functions.similarity import semantic_decontaminate

    ctx = p.get("_context") or {}
    if ctx.get("dry_run"):
        sc = p.get("score_col")
        return df.withColumn(sc, F.lit(None).cast("double")) if sc else df
    if "spark" not in ctx or "benchmark" not in p:
        raise ValueError("semantic_decontaminate needs a 'benchmark' "
                         "input spec and pipeline context")
    bench = _load_input(ctx["spark"], p["benchmark"], ctx.get("sf_dir"))
    return semantic_decontaminate(
        df, bench,
        threshold=float(p.get("threshold", 0.9)),
        vec_col=p.get("vec_col", "embedding"),
        bench_vec_col=p.get("bench_vec_col"),
        score_col=p.get("score_col"),
    )


def _resolve_lm_model(df: DataFrame, p: dict):
    from greenmask_spark.functions.lm import load_ngram_lm, train_ngram_lm

    ctx = p.get("_context") or {}
    n = int(p.get("n", 2))
    if "model_table" in p:
        # a saved model (save_ngram_lm: bucketed by gram) — the
        # model-reuse shape: per-order lookups join the bucketed scans
        # without re-shuffling the counts per pipeline run
        if "spark" not in ctx:
            raise ValueError("lm model_table needs pipeline context")
        return load_ngram_lm(ctx["spark"], p["model_table"]), n
    if "reference" in p:
        if "spark" not in ctx:
            raise ValueError("lm reference spec needs pipeline context")
        ref = _load_input(ctx["spark"], p["reference"], ctx.get("sf_dir"))
    else:
        ref = df  # self-trained: score each doc against the corpus itself
    return train_ngram_lm(
        ref, n=n, text_col=p.get("text_col", "text"),
        id_col=p.get("id_col", "doc_id"),
    ), n


def _step_lm_score(df: DataFrame, p: dict) -> DataFrame:
    """Attach Stupid-Backoff LM columns (lm_logprob, ppl, n_scored)
    from a model trained on a ``reference`` input spec. Omitting the
    reference self-trains on the corpus — fine for relative frequency
    stats, but NOT an outlier detector: a unique document's own n-grams
    are in the model, so it scores near-perfectly. Quality gating the
    CCNet way needs an external trusted reference."""
    from greenmask_spark.functions.lm import ngram_lm_score

    model, n = _resolve_lm_model(df, p)
    id_col = p.get("id_col", "doc_id")
    scored = ngram_lm_score(
        df, model, n=n, alpha=float(p.get("alpha", 0.4)),
        text_col=p.get("text_col", "text"), id_col=id_col,
        broadcast_model=bool(p.get("broadcast_model", False)),
        # "auto" persists a COMPUTED model's counts before the 2n-join
        # fan-out; the cache entry lives for the session (one per
        # distinct model plan — Spark's CacheManager dedupes identical
        # plans, so re-running the same pipeline reuses, not leaks).
        # Long-lived sessions scoring against many DIFFERENT models
        # should pass reuse: recompute or save_ngram_lm + model_table.
        reuse=p.get("reuse", "auto"),
    ).withColumnsRenamed({"id": id_col})
    return df.drop("lm_logprob", "ppl", "n_scored").join(scored, id_col)


def _step_lm_filter(df: DataFrame, p: dict) -> DataFrame:
    """Drop documents whose perplexity under the reference model
    exceeds ``max_ppl`` (the CCNet quality gate as one threshold)."""
    from greenmask_spark.functions.lm import lm_quality_filter

    model, n = _resolve_lm_model(df, p)
    return lm_quality_filter(
        df, model, max_ppl=float(p["max_ppl"]), n=n,
        alpha=float(p.get("alpha", 0.4)),
        text_col=p.get("text_col", "text"),
        id_col=p.get("id_col", "doc_id"),
        keep_unscored=bool(p.get("keep_unscored", False)),
        broadcast_model=bool(p.get("broadcast_model", False)),
        reuse=p.get("reuse", "auto"),
    )


def _step_lang_id(df: DataFrame, p: dict) -> DataFrame:
    """Attach the heuristic language-ID column (stopword-profile
    n-gram scorer, functions/text_analysis.lang_id) — pure
    expressions at scan bandwidth. CC-Net splits the crawl into
    per-language streams BEFORE the LM gate (Wenzek 2020,
    arXiv:1911.00359 §3.2); this step makes that split a real column
    instead of a quality_filter side effect, so downstream steps
    (``ppl_bucket`` grouping, mixture rates) can key on it."""
    from greenmask_spark.functions.text_analysis import lang_id

    return df.withColumn(
        p.get("lang_col", "lang"), lang_id(F.col(p.get("text_col", "text")))
    )


def _step_ppl_bucket(df: DataFrame, p: dict) -> DataFrame:
    """CC-Net head/middle/tail perplexity buckets (Wenzek 2020,
    arXiv:1911.00359 §3.3): per-language perplexity percentile cuts
    label each document head (lowest ppl = closest to the trusted
    reference), middle, or tail. Needs a ``ppl`` column — run
    ``lm_score`` (with a trusted ``reference``) first.

    Scale shape: the cuts come from ONE map-side-combined
    ``percentile`` agg over the projected (group, ppl) pair — a
    ≤ #languages-row frame — broadcast-joined back; document bodies
    never cross an exchange and there is no per-group window sort.

    Params: ``ppl_col`` (default ppl), ``group_col`` (default lang;
    null-group docs bucket NULL), ``cuts`` (ascending percentiles,
    default [1/3, 2/3]), ``labels`` (len(cuts)+1, default
    head/middle/tail), ``keep`` (optional label allowlist — CC-Net
    keeps head+middle; unscored/NULL-ppl docs drop once ``keep`` is
    set), ``bucket_col`` (default ppl_bucket), ``method``:

    - ``percentile`` (default): value cuts from the exact
      ``percentile`` agg — cheapest (no per-group sort of the data),
      but the cut is a float interpolation, so a document whose ppl
      EQUALS a cut is engine-float-sensitive.
    - ``rank``: pure-integer tercile by position — label index =
      (rank-1)*k div n (SQL integer division, no double round-trip)
      with rank over (ppl asc, id asc) within the group —
      bit-replayable in any SQL engine (the driver-checked
      form, registry row ``ppl_bucket``); requires uniform cuts
      i/len(labels) (the definition is positional). NaN ppl is
      treated exactly like NULL ppl (NULL bucket): a NaN cannot be
      ranked, and letting it into the sliver would poison the
      per-group max and collapse the bucket fan-out.

      Scale shape (r12): a naive ``row_number() PARTITION BY group``
      funnels an entire language through ONE task's window sort — on
      a mostly-English 100 TB corpus that is a single-reducer sort of
      nearly everything. Instead the rank decomposes through the
      select_to_budget two-phase pattern (sampling.select_to_budget):
      quantize ppl into ``n_buckets`` per-group value buckets (any
      monotone function of ppl works — equal ppl values always share
      a bucket, so bucket order + in-bucket (ppl, id) order IS the
      global (ppl, id) order), take per-(group, bucket) counts and a
      running offset over the ≤ groups×n_buckets-row plan frame, and
      run the exact (ppl, id) window partitioned by (group, BUCKET) —
      thousands of ~n/n_buckets-row parallel sorts, never a
      per-language funnel. Global rank = bucket offset + in-bucket
      rank, exactly; the result is bit-identical to the naive
      formulation at ANY n_buckets. The (id, group, ppl) sliver is
      pinned with an eager localCheckpoint so the (possibly
      expensive) upstream ppl pipeline computes it ONCE for the
      stats/plan/rank phases; document bodies never cross an exchange
      (label joins back on id). Degenerate caveat (select_to_budget's
      twin): a group where most rows share ONE ppl value concentrates
      that bucket."""
    ppl_col = p.get("ppl_col", "ppl")
    group_col = p.get("group_col", "lang")
    cuts = [float(c) for c in p.get("cuts", (1 / 3, 2 / 3))]
    labels = [str(x) for x in p.get("labels", ("head", "middle", "tail"))]
    bucket_col = p.get("bucket_col", "ppl_bucket")
    method = p.get("method", "percentile")
    if len(labels) != len(cuts) + 1:
        raise ValueError(
            f"ppl_bucket: {len(cuts)} cuts need {len(cuts) + 1} labels, "
            f"got {len(labels)}")
    if sorted(cuts) != cuts or not all(0.0 < c < 1.0 for c in cuts):
        raise ValueError(f"ppl_bucket: cuts must be ascending in (0,1): "
                         f"{cuts}")
    if method == "rank":
        from pyspark.sql import Window

        id_col = p.get("id_col", "doc_id")
        k = len(labels)
        nb = int(p.get("n_buckets", 1024))
        if nb < 1:
            raise ValueError(f"ppl_bucket: n_buckets={nb} must be >= 1")
        if any(abs(c - (i + 1) / k) > 1e-9 for i, c in enumerate(cuts)):
            raise ValueError(
                f"ppl_bucket method=rank needs uniform cuts "
                f"{[(i + 1) / k for i in range(k - 1)]}, got {cuts} — "
                f"positional buckets are equal-population by definition")
        # (id, group, ppl) sliver, pinned: stats/plan/rank all read it.
        # NaN is excluded like NULL (NULL bucket via the left-join miss):
        # one NaN score would otherwise poison the per-group max, turn
        # every bucket expression NaN → floor → bucket 0, and silently
        # collapse the whole group back into the single-task funnel the
        # decomposition exists to prevent.
        sliver = df.select(
            id_col, group_col, F.col(ppl_col).cast("double").alias("__s")
        ).filter(
            F.col("__s").isNotNull() & ~F.isnan("__s")
            & F.col(group_col).isNotNull()
        ).localCheckpoint(eager=True)
        # per-group value range + size: <= #groups rows, broadcast back
        stats = sliver.groupBy(group_col).agg(
            F.min("__s").alias("__lo"), F.max("__s").alias("__hi"),
            F.count(F.lit(1)).alias("__n"),
        ).localCheckpoint(eager=True)
        b = sliver.join(F.broadcast(stats), on=group_col).withColumn(
            "__b",
            F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
                F.least(
                    F.lit(nb - 1),
                    F.greatest(
                        F.lit(0),
                        F.floor((F.col("__s") - F.col("__lo"))
                                / (F.col("__hi") - F.col("__lo")) * nb),
                    ),
                )
            ).cast("int"),
        ).drop("__lo", "__hi")
        # running offset per (group, bucket) over the tiny plan frame
        run = Window.partitionBy(group_col).orderBy("__b").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        plan = (
            b.groupBy(group_col, "__b").agg(F.count(F.lit(1)).alias("__bn"))
            .withColumn("__off", F.sum("__bn").over(run) - F.col("__bn"))
            .select(group_col, "__b", "__off")
            .localCheckpoint(eager=True)
        )
        # exact (ppl, id) rank INSIDE each (group, bucket) partition —
        # global rank = __off + in-bucket rank, bit-identical to the
        # single per-group window at any n_buckets
        wb = Window.partitionBy(group_col, "__b").orderBy(
            F.col("__s").asc(), F.col(id_col).asc())
        labarr = F.array(*[F.lit(x) for x in labels])
        # label index via PURE integer arithmetic — `div` is SQL integer
        # division, so (rank-1)*k div n is exact at any count (the /
        # operator would round-trip through double and break the
        # bit-replayability contract past 2^53)
        lab_df = (
            b.join(F.broadcast(plan), on=[group_col, "__b"])
            .withColumn(
                "__r0", F.col("__off") + F.row_number().over(wb) - 1)
            .withColumn(
                "__li",
                F.expr(f"cast((__r0 * {int(k)}) div __n as int)"),
            )
            .select(F.col(id_col),
                    F.element_at(labarr, F.col("__li") + 1)
                    .alias(bucket_col))
        )
        out = df.join(lab_df, on=id_col, how="left")
    elif method == "percentile":
        cut_cols = [
            F.percentile(F.col(ppl_col), F.lit(c)).alias(f"__cut{i}")
            for i, c in enumerate(cuts)
        ]
        # explicit (group, ppl) projection: Spark prunes columns into
        # the aggregate anyway, but the docstring's "projected pairs"
        # should hold by construction, not by optimizer courtesy
        cuts_df = df.select(group_col, ppl_col).groupBy(
            F.col(group_col)).agg(*cut_cols)
        joined = df.join(F.broadcast(cuts_df), on=group_col, how="left")
        # NULL ppl OR NULL group → NULL bucket (a join miss on a NULL
        # group key leaves __cut0 NULL; without this guard such rows
        # would fall through every `when` into the tail label)
        bucket = F.when(
            F.col(ppl_col).isNull() | F.col("__cut0").isNull(),
            F.lit(None).cast("string"))
        for i, lab in enumerate(labels[:-1]):
            bucket = bucket.when(
                F.col(ppl_col) <= F.col(f"__cut{i}"), F.lit(lab))
        bucket = bucket.otherwise(F.lit(labels[-1]))
        out = joined.withColumn(bucket_col, bucket).drop(
            *[f"__cut{i}" for i in range(len(cuts))])
    else:
        raise ValueError(
            f"ppl_bucket: unknown method {method!r} "
            f"(percentile | rank)")
    if "keep" in p:
        out = out.filter(
            F.col(bucket_col).isin([str(x) for x in p["keep"]]))
    return out


def _step_shuffle(df: DataFrame, p: dict) -> DataFrame:
    """Global deterministic pre-training shuffle (one range sort; order
    is a pure function of (key, seed) so resumed jobs see the same
    sequence)."""
    from greenmask_spark.functions.sampling import deterministic_shuffle

    return deterministic_shuffle(
        df, key_col=p.get("id_col", "doc_id"), seed=int(p.get("seed", 42))
    )


def _step_ann_rerank(df: DataFrame, p: dict) -> DataFrame:
    """Production ANN shape from config: coarse recall stage (IVF or
    LSH over a previously-joined embedding column) proposes
    ``coarse_k`` candidates per query, then ``rerank_topk`` scores only
    those pairs at full precision and keeps top ``k``.

    TERMINAL/analysis step: the output is the (query_id, neighbor_id,
    cos_sim, rank) pair frame, not the document stream. Queries come
    from a ``queries`` side input spec ({table}/{path}) or a
    ``query_filter`` expression over the corpus itself.
    """
    from greenmask_spark.functions.similarity import (
        cosine_topk_lsh,
        hash_centroids,
        ivf_topk,
        rerank_topk,
    )

    id_col = p.get("id_col", "doc_id")
    vec_col = p.get("vec_col", "embedding")
    corpus = df.select(F.col(id_col), F.col(vec_col))
    if "queries" in p:
        ctx = p.get("_context") or {}
        if "spark" not in ctx:
            raise ValueError("ann_rerank queries spec needs pipeline context")
        q = _load_input(ctx["spark"], p["queries"], ctx.get("sf_dir"))
        queries = q.select(
            F.col(p.get("query_id_col", id_col)).alias(id_col),
            F.col(p.get("query_vec_col", vec_col)).alias(vec_col),
        )
    elif "query_filter" in p:
        queries = corpus.filter(p["query_filter"])
    else:
        raise ValueError("ann_rerank needs 'queries' or 'query_filter'")
    coarse_k = int(p.get("coarse_k", 50))
    coarse = p.get("coarse", "ivf")
    if coarse == "ivf":
        if "dim" not in p:
            raise ValueError("ann_rerank coarse=ivf needs 'dim'")
        cand = ivf_topk(
            corpus, queries, k=coarse_k,
            n_probe=int(p.get("n_probe", 4)),
            centroids=hash_centroids(
                int(p["dim"]), int(p.get("n_centroids", 16)),
                int(p.get("seed", 42))),
            id_col=id_col, vec_col=vec_col,
        )
    elif coarse == "lsh":
        if "dim" not in p:
            raise ValueError("ann_rerank coarse=lsh needs 'dim'")
        cand = cosine_topk_lsh(
            corpus, queries, k=coarse_k, dim=int(p["dim"]),
            n_planes=int(p.get("n_planes", 8)),
            id_col=id_col, vec_col=vec_col,
        )
    else:
        raise ValueError(f"ann_rerank coarse {coarse!r}: ivf|lsh")
    return rerank_topk(
        cand, corpus, queries, k=int(p.get("k", 5)),
        id_col=id_col, vec_col=vec_col,
    )


def _step_packing_report(df: DataFrame, p: dict) -> DataFrame:
    """TERMINAL/analysis step: one-row utilization summary of a
    ``pack_sequences`` output (n_bins, n_docs, mean_fill, padding_frac)
    — the number that decides sequential vs bfd on a real corpus. Pass
    the SAME max_tokens/sep_tokens as the pack step."""
    from greenmask_spark.functions.sampling import packing_stats

    token_col = p.get("token_col", "n_tokens")
    src = df if token_col == "n_tokens" else df.withColumnsRenamed(
        {token_col: "n_tokens"})
    return packing_stats(
        src,
        max_tokens=int(p.get("max_tokens", 4096)),
        sep_tokens=int(p.get("sep_tokens", 0)),
    )


def _step_kmeans_cluster(df: DataFrame, p: dict) -> DataFrame:
    """Attach an integer-exact k-means cluster id over an embedding
    column (functions/clustering.kmeans_assign — fixed-point Lloyd's,
    bit-identical across engines/partitionings): the clustering twin
    of ``lang_id`` for cluster-keyed downstream steps (SemDeDup-style
    pruning, cluster-balanced mixtures, or ``hash_split`` keyed on
    ``cid`` for leakage control on SEMANTIC near-dups the way
    ``cluster_split`` handles lexical ones). Compose after
    ``join_embeddings`` when the corpus frame has no embedding
    column. Training reads a hash-gated 1/sample_mod of the rows;
    assignment is one Arrow PASSTHROUGH stage with the centroids in
    the closure — every corpus column rides through, no rejoin.

    Under ``describe_corpus_pipeline`` (empty dry-run frames, context
    flag ``dry_run``) training is skipped — it would collect an empty
    init sample and raise — and the step only reports its schema:
    the ``out_col`` int column with NULL values."""
    from greenmask_spark.functions.clustering import kmeans_assign

    if (p.get("_context") or {}).get("dry_run"):
        return df.withColumn(
            p.get("out_col", "cid"), F.lit(None).cast("int"))
    return kmeans_assign(
        df,
        k=int(p.get("k", 8)),
        n_iters=int(p.get("n_iters", 3)),
        id_col=p.get("id_col", "doc_id"),
        vec_col=p.get("vec_col", "embedding"),
        out_col=p.get("out_col", "cid"),
        seed=int(p.get("seed", 42)),
        sample_mod=int(p.get("sample_mod", 1)),
        passthrough=True,
    )


CORPUS_STEPS: dict[str, Step] = {
    "dedup_exact": _step_dedup_exact,
    "dedup_lines": _step_dedup_lines,
    "fuzzy_dedup": _step_fuzzy_dedup,
    "quality_filter": _step_quality_filter,
    "gopher_filter": _step_gopher_filter,
    "c4_filter": _step_c4_filter,
    "repetition_filter": _step_repetition_filter,
    "scrub_pii": _step_scrub_pii,
    "hash_split": _step_hash_split,
    "hash_sample": _step_hash_sample,
    "pack_sequences": _step_pack_sequences,
    "join_embeddings": _step_join_embeddings,
    "semantic_dedup": _step_semantic_dedup,
    "checkpoint": _step_checkpoint,
    "strip_html": _step_strip_html,
    "normalize_text": _step_normalize_text,
    "normalize_urls": _step_normalize_urls,
    "blocklist": _step_blocklist,
    "robots_filter": _step_robots_filter,
    "cap_per_domain": _step_cap_per_domain,
    "domain_gate": _step_domain_gate,
    "cluster_split": _step_cluster_split,
    "linear_score": _step_linear_score,
    "shuffle": _step_shuffle,
    "ann_rerank": _step_ann_rerank,
    "packing_report": _step_packing_report,
    "dedup_against": _step_dedup_against,
    "bloom_dedup": _step_bloom_dedup,
    "select_to_budget": _step_select_to_budget,
    "weighted_sample": _step_weighted_sample,
    "decontaminate": _step_decontaminate,
    "semantic_decontaminate": _step_semantic_decontaminate,
    "remove_repeated_spans": _step_remove_repeated_spans,
    "bm25": _step_bm25,
    "dsir": _step_dsir,
    "ngram_novelty": _step_ngram_novelty,
    "entropy": _step_entropy,
    "script": _step_script,
    "chunk": _step_chunk,
    "bpe_count": _step_bpe_count,
    "lm_score": _step_lm_score,
    "lm_filter": _step_lm_filter,
    "lang_id": _step_lang_id,
    "ppl_bucket": _step_ppl_bucket,
    "kmeans_cluster": _step_kmeans_cluster,
}


_STEP_KEYS_CACHE: dict[str, frozenset | None] = {}


def _step_known_keys(name: str) -> frozenset | None:
    """The parameter keys a BUILTIN step actually reads, extracted once
    from its source (every read is a literal ``p.get("k")`` / ``p["k"]``).
    None = unknowable contract: custom registered steps, or steps that
    forward the whole params dict to a helper. Introspected rather
    than hand-maintained so the check can never drift from the code."""
    if name in _STEP_KEYS_CACHE:
        return _STEP_KEYS_CACHE[name]
    import ast as _ast
    import inspect as _inspect

    fn = CORPUS_STEPS[name]
    keys: frozenset | None
    if getattr(fn, "__module__", None) != __name__:
        keys = None  # custom step — its params are its own business
    else:
        tree = _ast.parse(_inspect.getsource(fn))
        arg = tree.body[0].args.args[1].arg
        found, dynamic = set(), False
        for node in _ast.walk(tree):
            if (isinstance(node, _ast.Call)
                    and isinstance(node.func, _ast.Attribute)
                    and node.func.attr == "get"
                    and isinstance(node.func.value, _ast.Name)
                    and node.func.value.id == arg and node.args):
                if isinstance(node.args[0], _ast.Constant):
                    found.add(node.args[0].value)
                else:
                    dynamic = True  # p.get(variable) — key unknowable
            elif (isinstance(node, _ast.Subscript)
                    and isinstance(node.value, _ast.Name)
                    and node.value.id == arg
                    and isinstance(node.slice, _ast.Constant)):
                found.add(node.slice.value)
            elif (isinstance(node, _ast.Compare)
                    and any(isinstance(op, (_ast.In, _ast.NotIn))
                            for op in node.ops)
                    and any(isinstance(c, _ast.Name) and c.id == arg
                            for c in node.comparators)
                    and isinstance(node.left, _ast.Constant)):
                # membership reads count too: `'k' in p` gates a
                # parameter just like p.get('k') does
                found.add(node.left.value)
            elif isinstance(node, _ast.Call) and any(
                isinstance(a, _ast.Name) and a.id == arg
                for a in list(node.args) + [kw.value for kw in node.keywords]
            ):
                dynamic = True  # whole dict forwarded — can't enumerate
        keys = None if dynamic else frozenset(found)
    _STEP_KEYS_CACHE[name] = keys
    return keys


def _validate_steps(steps: list[dict]) -> None:
    import warnings

    for i, step in enumerate(steps):
        if not isinstance(step, dict) or "op" not in step:
            raise ValueError(f"step {i}: expected a mapping with an 'op' key")
        if step["op"] not in CORPUS_STEPS:
            raise ValueError(
                f"step {i}: unknown op {step['op']!r}; "
                f"known: {sorted(CORPUS_STEPS)}"
            )
        # a typo'd or unsupported parameter is SILENTLY ignored by the
        # step (each reads only the keys it knows) — that silence turns
        # a config mistake into a semantic change (e.g. gopher_filter
        # given min_words still applies the paper's 50), so warn loudly
        known = _step_known_keys(step["op"])
        if known is not None:
            unknown = set(step) - known - {"op"}
            if unknown:
                warnings.warn(
                    f"step {i} ({step['op']}): parameter(s) "
                    f"{sorted(unknown)} are not read by this step and "
                    f"will be IGNORED; known parameters: "
                    f"{sorted(known - {'_context'})}",
                    stacklevel=2,
                )


def register_corpus_step(name: str, fn: Step, replace: bool = False) -> None:
    """Extension point mirroring the custom-transformer registry
    (transformers/custom.py): plug a project-specific step into config
    pipelines. ``fn`` takes (df, params) and returns a DataFrame;
    params arrive verbatim from the config step dict (plus ``_context``
    when run through ``run_corpus_pipeline``)."""
    if name in CORPUS_STEPS and not replace:
        raise ValueError(f"step {name!r} already registered")
    CORPUS_STEPS[name] = fn


def build_corpus_pipeline(
    df: DataFrame, steps: list[dict], context: dict | None = None
) -> DataFrame:
    """Compose the step list into one lazy plan. Unknown ops and
    non-dict steps fail fast — config errors surface before any Spark
    job runs (the reference validates config up front the same way)."""
    _validate_steps(steps)
    out = df
    for step in steps:
        params = {k: v for k, v in step.items() if k != "op"}
        if context is not None:
            params["_context"] = context
        out = CORPUS_STEPS[step["op"]](out, params)
    return out


def _load_input(spark, inp: dict, sf_dir: str | None) -> DataFrame:
    """Resolve a {table}/{path} input spec. An optional ``where`` key
    (a SQL boolean expression) filters ANY spec kind — benchmark
    slices, sub-corpora — and being a plain Catalyst filter it pushes
    into the scan."""
    where = inp.get("where")
    inp = {k: v for k, v in inp.items() if k != "where"}
    if where is not None:
        return _load_input(spark, inp, sf_dir).filter(where)
    if "table" in inp:
        if sf_dir is None:
            raise ValueError("input.table needs sf_dir")
        from greenmask_spark.session import load_tables

        return load_tables(spark, sf_dir, (inp["table"],))[inp["table"]]
    if "path" in inp:
        fmt = inp.get("format", "parquet")
        if fmt in ("jsonl", "json"):
            from greenmask_spark.sources.io import read_jsonl

            return read_jsonl(spark, inp["path"], inp["schema"])
        if fmt == "warc":
            # crawl → corpus directly: text/* HTTP responses become the
            # standard (doc_id, source_id, url, text) frame. doc_id =
            # xxhash64 of the record identity — stable across re-reads
            # and the long type every downstream hash/split expects —
            # but 64 bits birthday-collide at multi-billion-doc scale
            # (~0.5 expected at 5B), so source_id carries the ORIGINAL
            # identity: a collision is detectable (two source_ids, one
            # doc_id) and resolvable without re-reading the crawl.
            # Non-text payloads belong to a multimodal pipeline — use
            # read_warc yourself.
            from greenmask_spark.sources.warc import read_warc

            recs = read_warc(spark, inp["path"])
            # identity falls back to file#offset when WARC-Record-ID is
            # absent (dirty crawls): xxhash64 of a NULL would collapse
            # every id-less record onto one constant doc_id and
            # downstream dedup/split would merge distinct documents
            source_id = F.coalesce(
                F.col("record_id"),
                F.concat_ws("#", "file", "record_offset"),
            )
            return recs.filter(
                F.col("http_content_type").startswith("text/")
            ).select(
                F.xxhash64(source_id).alias(inp.get("id_col", "doc_id")),
                source_id.alias("source_id"),
                F.col("target_uri").alias("url"),
                F.col("payload").cast("string").alias(
                    inp.get("text_col", "text")),
            )
        return spark.read.format(fmt).load(inp["path"])
    raise ValueError("input needs 'table' or 'path'")


def _resolve_input_df(spark, config: dict, sf_dir: str | None) -> DataFrame:
    """The config's input tier: a single ``input`` spec, or ``inputs``
    + ``mixture`` (weighted multi-source union via sample_mixture)."""
    if "inputs" in config:
        mix = config.get("mixture") or {}
        if "rates" not in mix:
            raise ValueError("multi-source config needs mixture.rates")
        from greenmask_spark.functions.sampling import sample_mixture

        sources = {
            name: _load_input(spark, spec, sf_dir)
            for name, spec in config["inputs"].items()
        }
        return sample_mixture(
            sources,
            {k: float(v) for k, v in mix["rates"].items()},
            key_col=mix.get("key_col", "doc_id"),
            seed=int(mix.get("seed", 42)),
        )
    return _load_input(spark, config.get("input") or {}, sf_dir)


def run_corpus_pipeline(
    spark, config: dict[str, Any], sf_dir: str | None = None
) -> DataFrame:
    """Config → DataFrame. ``input`` is either {table: name} resolved
    from ``sf_dir`` parquet, or {path, format[, schema]}. Multi-source
    training mixtures use ``inputs`` (name → input spec) together with
    ``mixture: {rates: {name: rate}, key_col?, seed?}`` — sources are
    weighted/upsampled via ``sample_mixture`` and the union feeds the
    step list. The ``output`` section (optional) writes
    {path, format: parquet|jsonl}."""
    df = _resolve_input_df(spark, config, sf_dir)
    out = build_corpus_pipeline(
        df, config.get("steps", []),
        context={"spark": spark, "sf_dir": sf_dir},
    )
    sink = config.get("output")
    if sink:
        fmt = sink.get("format", "parquet")
        if fmt in ("jsonl", "json"):
            from greenmask_spark.sources.io import write_jsonl

            write_jsonl(out, sink["path"],
                        compression=sink.get("compression", "gzip"))
        elif fmt == "shards":
            # deterministically-shuffled fixed-size training shards —
            # the terminal sink of a crawl → corpus run
            from greenmask_spark.functions.sampling import (
                write_training_shards,
            )

            write_training_shards(
                out, sink["path"],
                key_col=sink.get("key_col", "doc_id"),
                rows_per_shard=int(sink.get("rows_per_shard", 100_000)),
                seed=int(sink.get("seed", 42)),
                compression=sink.get("compression", "zstd"),
            )
        else:
            (out.write.mode("overwrite").format(fmt).save(sink["path"]))
    return out


def describe_corpus_pipeline(
    spark, config: dict[str, Any], sf_dir: str | None = None
) -> list[dict]:
    """Dry-run schema walkthrough: compose the pipeline over EMPTY
    frames with the real input schema and report each step's
    added/removed columns. Because the frames are empty, even the
    eager-composition steps (the CC fixpoints) finish in a couple of
    trivial jobs — config errors and schema mismatches surface without
    touching the corpus."""
    def empty_like(spec):
        src = _load_input(spark, spec, sf_dir)
        return spark.createDataFrame([], src.schema)

    if "inputs" in config:
        from greenmask_spark.functions.sampling import sample_mixture

        mix = config.get("mixture") or {}
        if "rates" not in mix:
            raise ValueError("multi-source config needs mixture.rates")
        df = sample_mixture(
            {n: empty_like(s) for n, s in config["inputs"].items()},
            {k: float(v) for k, v in mix["rates"].items()},
            key_col=mix.get("key_col", "doc_id"),
        )
    else:
        df = empty_like(config.get("input") or {})
    report = [{"step": "input", "added": list(df.columns), "removed": []}]
    # dry_run: steps that TRAIN eagerly at composition time over the
    # corpus (kmeans_cluster) would collect an empty sample here and
    # raise — they must report schema only
    ctx = {"spark": spark, "sf_dir": sf_dir, "dry_run": True}
    steps = config.get("steps", [])
    _validate_steps(steps)  # fail fast on op/shape errors, no execution
    for step in steps:
        params = {k: v for k, v in step.items() if k != "op"}
        params["_context"] = ctx
        before = set(df.columns)
        df = CORPUS_STEPS[step["op"]](df, params)
        report.append({
            "step": step["op"],
            "added": sorted(set(df.columns) - before),
            "removed": sorted(before - set(df.columns)),
        })
    return report


def corpus_funnel(
    spark, config: dict[str, Any], sf_dir: str | None = None
) -> list[dict]:
    """Per-stage survivor counts for a corpus config in ONE pass —
    the funnel every curation run is judged by (how many documents
    each gate dropped), without the naive cost of one count() job
    per stage re-running the whole prefix.

    Spark-first mechanism: ``DataFrame.observe`` (CollectMetrics)
    attaches a count at every stage boundary and the single
    evaluating action — a noop write — reports them all. No
    per-stage jobs, no persistence, and the optimizer does not push
    filters through an observation point, so each count is exactly
    the rows that crossed that boundary. A step that materializes
    eagerly at composition time (the CC fixpoints, k-means training)
    consumes its upstream observations then; an Observation keeps
    its first action's result, which counts the same rows.

    Two optimizer interactions are handled explicitly (tests pin
    both): AQE's empty-relation propagation is excluded for the one
    action (a zero-survivor gate is what a funnel must report, not
    optimize away), and when the STATIC optimizer proves a gate
    impossible and eliminates the subtree below it — observation
    nodes included — the eliminated prefix is re-derived exactly by
    a bounded recursive funnel over the steps before the cut.

    Returns ``[{"stage": -1, "op": "input", "rows": N}, {"stage": 0,
    "op": <first step>, "rows": ...}, ...]``. Batch diagnostic; a
    streaming funnel would read the same metrics from the
    query-progress listener instead."""
    from pyspark.sql import Observation

    steps = config.get("steps", [])
    _validate_steps(steps)
    df = _resolve_input_df(spark, config, sf_dir)
    ctx = {"spark": spark, "sf_dir": sf_dir}
    taps: list[tuple[int, str, Observation]] = []

    def tap(frame: DataFrame, stage: int, op: str) -> DataFrame:
        ob = Observation(f"funnel:{stage}:{op}")
        taps.append((stage, op, ob))
        return frame.observe(ob, F.count(F.lit(1)).alias("rows"))

    df = tap(df, -1, "input")
    for i, step in enumerate(steps):
        params = {k: v for k, v in step.items() if k != "op"}
        params["_context"] = ctx
        df = CORPUS_STEPS[step["op"]](df, params)
        df = tap(df, i, step["op"])
    # empty-relation propagation would ELIMINATE the subtree —
    # CollectMetrics nodes included — the moment any gate drops every
    # row (AQE replans mid-query; the observations above the cut are
    # silently discarded and .get dies on the null metrics row).
    # Exclude just those rewrite rules for the funnel's one action: a
    # zero-survivor stage is exactly what a funnel must report, not
    # optimize away.
    conf = spark.conf
    saved = {}
    excl = {
        "spark.sql.adaptive.optimizer.excludedRules":
            "org.apache.spark.sql.execution.adaptive."
            "AQEPropagateEmptyRelation",
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer."
            "PropagateEmptyRelation",
    }
    for k, v in excl.items():
        saved[k] = conf.get(k, None)
        conf.set(k, v if not saved[k] else f"{saved[k]},{v}")
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    out: list[dict] = []
    dead: list[int] = []
    for s, op, ob in taps:
        try:
            rows = ob.get["rows"]
        except Exception:
            # the STATIC optimizer can prove a later gate empty
            # (e.g. a filter on values an upstream CASE can never
            # produce) and replace the whole subtree BELOW it with an
            # empty relation — those observation nodes never execute.
            # Boundaries above the cut still fire (with 0).
            rows = None
            dead.append(s)
        out.append({"stage": s, "op": op, "rows": rows})
    if dead:
        # re-derive the eliminated prefix exactly: every dead boundary
        # sits strictly below the impossible gate, so the prefix that
        # stops before it executes normally. Bounded recursion — each
        # level drops at least one step.
        prefix = dict(config)
        prefix["steps"] = steps[: max(dead) + 1]
        prefix.pop("output", None)
        for row in corpus_funnel(spark, prefix, sf_dir):
            out[row["stage"] + 1]["rows"] = row["rows"]
    return out
