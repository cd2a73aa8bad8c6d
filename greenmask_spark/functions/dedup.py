"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of this module):
- exact dedup     — one shuffle on a 64-hex digest, min-id wins. At 100 TB
  the shuffle key is the 32-byte hash, not the document body.
- MinHash LSH     — signatures are pure Column expressions (shingle array →
  portable polynomial hashes → array_min), so signature computation is a
  scan+project with NO shuffle; only the tiny (doc_id, band_key) pairs
  shuffle for the bucket join. Candidate verification (exact Jaccard) runs
  only on bucket collisions.
- SimHash         — explode(tokens) + groupBy(doc) partial-aggregates
  map-side; the shuffled rows are (doc_id, 16 ints).
- portability     — hashes use the same sha256-slice + mod-prime arithmetic
  as the engine kernel so the DuckDB oracle replays signatures exactly.
"""

from __future__ import annotations

import re

import pandas as pd  # noqa: F401 — resolves stringified UDF type hints
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1: keeps a*h+b < 2^62 (no bigint overflow) in both
#: Spark and DuckDB.
MERSENNE = 2147483647

#: Deterministic permutation constants (a_i, b_i) for MinHash — fixed odd
#: multipliers; part of the operator contract.
def perm_constants(n: int) -> list[tuple[int, int]]:
    out = []
    a, b = 1103515245, 12345
    for i in range(n):
        out.append(((a * (2 * i + 1)) % MERSENNE, (b * (i + 7)) % MERSENNE))
    return out


def shingles(text: Column, k: int = 5) -> Column:
    """Array of k-character shingles of normalized text (distinct)."""
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: norm.substr(i, F.lit(k))))


def _shingle_hash(s: Column) -> Column:
    """Portable 31-bit hash of a shingle: sha256 hex slice mod MERSENNE."""
    return F.pmod(
        F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10).cast("bigint"),
        F.lit(MERSENNE),
    )


def minhash_signature(text: Column, num_perm: int = 16, k: int = 5) -> Column:
    """Array of num_perm MinHash values (bigint) — pure expression."""
    hs = F.transform(shingles(text, k), _shingle_hash)

    def perm_fn(a: int, b: int):
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE))

    sig = [
        F.array_min(F.transform(hs, perm_fn(a, b)))
        for a, b in perm_constants(num_perm)
    ]
    return F.array(*sig)


def minhash_signature_from_hashes(hs: Column, num_perm: int = 16) -> Column:
    """Signature from an ALREADY-hashed shingle array — stage the hash
    array once with ``F.transform(shingles(text), _shingle_hash)`` in a
    projection, then call this on the staged column: each permutation's
    array_min references the materialized hashes instead of duplicating
    the sha256 subtree num_perm times (the ``minhash_signature`` form
    recomputes it per permutation). For batch work prefer
    ``minhash_signatures_df`` (codegen'd explode+agg); this is for
    contexts that need a single expression, e.g. streaming projections
    ahead of a stateful operator."""
    def perm_fn(a: int, b: int):
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE))

    sig = [
        F.array_min(F.transform(hs, perm_fn(a, b)))
        for a, b in perm_constants(num_perm)
    ]
    return F.array(*sig)


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    k: int = 5,
) -> DataFrame:
    """(id, sig array<bigint>) — value-identical to ``minhash_signature``
    but in the shape that is actually fast and parallel:

    - the expression form duplicates the shingle-hash subtree into every
      permutation's array_min (num_perm× sha256 recompute), and higher-
      order functions evaluate INTERPRETED — measured ~500 ms/document.
    - here shingles explode to (id, h) rows — ONE sha256 per shingle —
      and the num_perm mins are plain codegen'd aggregates with map-side
      partial combine. The input repartitions first so a small
      single-row-group parquet file still uses every core.

    Documents with no shingles keep a null-filled signature (explode_outer),
    matching array_min-over-empty in the expression form.

    Shingles explode POSITIONALLY (no array_distinct, no transform HOF —
    a flat codegen'd sequence-explode + substr): min is insensitive to
    duplicates, so the signature values are identical and the per-gram
    work stays in whole-stage codegen."""
    from greenmask_spark.session import spread_input

    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    ex = (
        spread_input(df)
        .select(F.col(id_col).alias("id"), norm.alias("t"))
        .select(
            "id", "t",
            F.explode_outer(
                F.sequence(
                    F.lit(1), F.greatest(F.length("t") - k + 1, F.lit(1))
                )
            ).alias("i"),
        )
        .select("id", _shingle_hash(F.expr(f"substr(t, i, {k})")).alias("h"))
    )
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE)))
        .alias(f"m{i}")
        for i, (a, b) in enumerate(perm_constants(num_perm))
    ]
    return ex.groupBy("id").agg(*aggs).select(
        "id", F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig")
    )


def optimal_lsh_params(
    threshold: float,
    num_perm: int = 16,
    fp_weight: float = 0.5,
) -> tuple[int, int]:
    """(bands, rows_per_band) minimizing the weighted false-positive /
    false-negative probability integrals for a target Jaccard
    ``threshold`` — the standard LSH parameter solver (Leskovec/
    Rajaraman/Ullman, Mining of Massive Datasets §3.4; the same search
    the datasketch library performs). The S-curve for (b, r) accepts a
    pair of similarity s with probability 1 − (1 − s^r)^b; FP mass is
    its integral below the threshold, FN mass the complement's
    integral above. Exhaustive search over the divisor pairs of
    ``num_perm`` (tiny), numeric integrals at 1e-3 resolution —
    driver-side arithmetic, deterministic.

    ``fp_weight`` ∈ [0,1] trades false positives (wasted verification
    work) against false negatives (missed duplicates); 0.5 is
    balanced, lower it when recall matters more than verify cost."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold={threshold} outside (0, 1)")
    if not 0.0 <= fp_weight <= 1.0:
        raise ValueError(f"fp_weight={fp_weight} outside [0, 1]")
    if num_perm < 2:
        raise ValueError(f"num_perm={num_perm} must be >= 2")
    fn_weight = 1.0 - fp_weight
    steps = 1000
    best: tuple[float, int, int] | None = None
    for b in range(1, num_perm + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            accept = 1.0 - (1.0 - s ** r) ** b
            if s < threshold:
                fp += accept / steps
            else:
                fn += (1.0 - accept) / steps
        err = fp_weight * fp + fn_weight * fn
        if best is None or err < best[0]:
            best = (err, b, r)
    assert best is not None
    return best[1], best[2]


def band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Array of band-key strings 'b:r1_r2_...' — docs sharing any band key
    are near-dup candidates."""
    keys = []
    for b in range(bands):
        parts = [F.element_at(sig, b * rows_per_band + r + 1).cast("string")
                 for r in range(rows_per_band)]
        keys.append(F.concat_ws("_", F.lit(str(b)), *parts))
    return F.array(*keys)


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (canonical_id, dup_id) pairs.

    Shuffle key is the 32-byte digest — at 100 TB the exchange carries
    (digest, id), never the document body.
    """
    norm = F.sha2(F.col(text_col), 256).alias("h")
    hashed = df.select(F.col(id_col), norm)
    w = Window.partitionBy("h")
    return (
        hashed.withColumn("canonical_id", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("canonical_id"))
        .select("canonical_id", F.col(id_col).alias("dup_id"))
    )


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct text."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256))
    return (
        df.withColumn("__keep", F.min(id_col).over(w) == F.col(id_col))
        .filter("__keep")
        .drop("__keep")
    )


def lsh_recall_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.8,
    num_perm: int = 16,
    bands: int = 4,
    k: int = 5,
    sample_fraction: float | None = 0.01,
    seed: int = 42,
    max_docs: int = 10_000,
) -> dict:
    """The MinHash-LSH quality dial (the dedup twin of
    ``similarity.recall_at_k``): of the TRUE near-duplicate pairs
    (exact hashed-shingle Jaccard ≥ ``min_jaccard`` over all pairs of a
    hash-gated sample), what fraction does the banded LSH candidate
    stage surface? Returns ``{"recall": …, "precision": …,
    "true_pairs": …, "candidate_pairs": …}`` for tuning
    num_perm/bands/k before a production dedup run.

    Ground truth is all-pairs by definition, so this function is
    QUADRATIC in the evaluated doc count — two hard rails keep an eval
    dial pointed at a production corpus from launching an accidental
    all-pairs join over it: ``sample_fraction`` defaults to 0.01 (the
    hash gate keeps the sample reproducible across runs/partitionings;
    pass 1.0 explicitly for a corpus known to be small), and the
    sampled doc count is checked against ``max_docs`` BEFORE the
    all-pairs stage — above it the call raises with sizing guidance
    instead of running (10k docs ≈ 5·10⁷ pair rows ≈ the practical
    ceiling for the cheap integer-set intersections; only the four
    scalars ever reach the driver)."""
    src = df.select(id_col, text_col)
    if sample_fraction is None:
        # the pre-r6 signature's "no sampling" spelling — kept as an
        # alias for 1.0 so legacy call sites don't hit an opaque
        # TypeError at the comparison below (max_docs still rails the
        # unsampled corpus)
        sample_fraction = 1.0
    if sample_fraction < 1.0:
        from greenmask_spark.functions.sampling import hash_sample

        src = hash_sample(src, float(sample_fraction), id_col, seed)
    n_docs = src.count()
    if n_docs > max_docs:
        raise ValueError(
            f"lsh_recall_eval: {n_docs} sampled docs exceed max_docs="
            f"{max_docs}; the exact ground-truth stage is all-pairs "
            f"(~{n_docs * (n_docs - 1) // 2:.2g} pairs). Lower "
            f"sample_fraction (currently {sample_fraction}) to target "
            f"<= {max_docs} docs, or raise max_docs deliberately if the "
            f"cluster can carry the quadratic verify stage."
        )
    ids = src.select(F.col(id_col).alias("id"))
    all_pairs = (
        ids.withColumnsRenamed({"id": "id_a"})
        .join(ids.withColumnsRenamed({"id": "id_b"}),
              F.col("id_a") < F.col("id_b"))
    )
    # both id-pair sets feed 2-3 consumers (counts + semi-joins):
    # materialize once — they are (id, id) slivers even when the sample
    # corpus is large
    truth = (
        ngram_jaccard(src, all_pairs, text_col, id_col, k)
        .filter(F.col("jaccard") >= float(min_jaccard))
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    cand = minhash_candidates(
        src, text_col, id_col, num_perm, bands, k
    ).localCheckpoint(eager=True)
    n_truth = truth.count()
    n_cand = cand.count()
    n_hit = truth.join(cand, ["id_a", "id_b"], "left_semi").count()
    n_prec_hit = cand.join(truth, ["id_a", "id_b"], "left_semi").count()
    if n_truth == 0:
        import warnings

        warnings.warn(
            f"lsh_recall_eval: the evaluated sample ({n_docs} docs, "
            f"sample_fraction={sample_fraction}) contains NO true "
            f"near-duplicate pairs at min_jaccard={min_jaccard} — "
            f"recall=1.0 is vacuous, not a measurement; raise "
            f"sample_fraction or lower min_jaccard",
            stacklevel=2,
        )
    return {
        "recall": (n_hit / n_truth) if n_truth else 1.0,
        "precision": (n_prec_hit / n_cand) if n_cand else 1.0,
        "true_pairs": n_truth,
        "candidate_pairs": n_cand,
    }


def _validate_prepared(
    reference: DataFrame, num_perm: int, k: int
) -> None:
    """Enforce the prepare_reference ↔ dedup_against num_perm/k
    contract: a mismatched call (prepared num_perm=8, dedup
    num_perm=16) would read past the stored ``__ref_sig`` array and
    silently degrade to NULL band keys — incorrect dedup, no error.
    Frames written by current ``prepare_reference`` carry
    ``__ref_num_perm``/``__ref_k`` columns; older frames fall back to
    checking the stored signature length (k stays unverifiable there —
    documented, not silent: the error message says so on sig-length
    mismatch). One column-pruned head() — a single tiny job per
    dedup_against call, negligible against the band join it guards."""
    sel = [F.size("__ref_sig").alias("__n")]
    has_meta = "__ref_num_perm" in reference.columns
    if has_meta:
        sel += [F.col("__ref_num_perm"), F.col("__ref_k")]
    row = reference.select(*sel).head()
    if row is None:
        return  # empty reference: nothing to mismatch against
    if has_meta:
        if row["__ref_num_perm"] != int(num_perm):
            raise ValueError(
                f"dedup_against: prepared reference was built with "
                f"num_perm={row['__ref_num_perm']} but this call uses "
                f"num_perm={num_perm}; band keys derived from a "
                f"mismatched signature are meaningless. Re-run "
                f"prepare_reference with num_perm={num_perm} or pass "
                f"num_perm={row['__ref_num_perm']} here."
            )
        if row["__ref_k"] != int(k):
            raise ValueError(
                f"dedup_against: prepared reference was built with "
                f"shingle k={row['__ref_k']} but this call uses k={k}; "
                f"signatures/shingle sets over different shingle sizes "
                f"are incomparable. Re-run prepare_reference with "
                f"k={k} or pass k={row['__ref_k']} here."
            )
    elif row["__n"] != int(num_perm):
        raise ValueError(
            f"dedup_against: prepared reference stores "
            f"{row['__n']}-value signatures but this call uses "
            f"num_perm={num_perm} (legacy frame without "
            f"__ref_num_perm/__ref_k metadata — its shingle k "
            f"cannot be verified; re-run prepare_reference to "
            f"record the full contract)."
        )


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: str = "exact",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 5,
    min_jaccard: float | None = None,
    _persisted: list | None = None,
) -> DataFrame:
    """Incremental dedup: drop documents of ``df`` that duplicate a
    REFERENCE corpus — already-ingested shards, a previous training
    run, or a benchmark set to decontaminate against — WITHOUT
    re-clustering the union (the production shape for rolling crawls:
    the reference never re-processes).

    - ``level="exact"``: content-digest anti-join. The reference side
      reduces to 32-byte digests before the join.
    - ``level="fuzzy"``: a document sharing ANY MinHash band bucket
      with a reference document is a candidate; with ``min_jaccard``
      each candidate (new_doc, ref_doc) pair is verified by exact
      hashed-shingle Jaccard and only verified hits drop (band
      collisions alone over-trigger at scale).

    Scale shape: both sides reduce to (id, digest) or (id, band_key)
    rows before any shuffle; the verify stage reuses ``ngram_jaccard``
    over the union restricted to candidate ids. Document bodies never
    cross an exchange.

    When the same reference is reused across many shards (the rolling-
    crawl shape), compute its keyed form ONCE with
    ``prepare_reference(reference, level, ...)`` — persist it or write
    it to parquet — and pass that frame here as ``reference``: prepared
    frames are detected by their ``__ref_*`` columns and the reference
    text is never re-shingled per shard. The num_perm/bands/k of the
    prepare call must match this call (the stored signatures encode
    them). A fuzzy ``min_jaccard`` verify against a prepared reference
    needs the shingle sets ``prepare_reference(..., with_shingles=
    True)`` stores (the default).
    """
    if level == "exact":
        if "__ref_key" in reference.columns:
            ref_keys = reference.select("__ref_key")
        else:
            ref_keys = reference.select(
                F.sha2(F.col(text_col), 256).alias("__ref_key")
            ).distinct()
        return df.join(
            ref_keys, F.sha2(F.col(text_col), 256) == F.col("__ref_key"),
            "left_anti",
        )
    if level != "fuzzy":
        raise ValueError(f"level {level!r}: exact|fuzzy")
    rows_per_band = num_perm // bands
    prepared = "__ref_sig" in reference.columns
    if prepared:
        _validate_prepared(reference, num_perm, k)
    def keys_of(frame, side):
        # NULL-text docs have no shingles and cannot meaningfully
        # near-duplicate anything; without this filter their null-filled
        # signatures band-collide with every other NULL doc
        sigs = minhash_signatures_df(
            frame.filter(F.col(text_col).isNotNull()),
            text_col, id_col, num_perm, k,
        )
        return sigs.select(
            F.col("id").alias(f"id_{side}"),
            F.explode(
                band_keys(F.col("sig"), bands, rows_per_band)
            ).alias("bk"),
        )
    new_keys = keys_of(df, "a")
    if prepared:
        # stored signature → band keys is a pure projection+explode:
        # the per-shard cost of the reference side is zero shingling
        ref_keys = reference.select(
            F.col("__ref_id").alias("id_b"),
            F.explode(
                band_keys(F.col("__ref_sig"), bands, rows_per_band)
            ).alias("bk"),
        )
    else:
        ref_keys = keys_of(reference, "b")
    cand = new_keys.join(ref_keys, "bk").select("id_a", "id_b").distinct()
    if min_jaccard is not None and prepared:
        if "__ref_hs" not in reference.columns:
            raise ValueError(
                "dedup_against: min_jaccard verify against a prepared "
                "reference needs its shingle sets — re-run "
                "prepare_reference(..., level='fuzzy', with_shingles=True)"
            )
        # cand feeds FOUR consumers (both id projections + twice inside
        # the two-stream Jaccard) and each hash stream feeds two
        # (sizes + intersection); ReuseExchange does not unify them
        # (alias-divergent attribute ids), so without a persist the
        # shard would re-shingle and the band join re-run once per
        # consumer — defeating the prepared path's purpose.
        # MEMORY_AND_DISK (the rows are (id, id) / (id, int) slivers),
        # handles surfaced via ``_persisted`` for callers that want to
        # unpersist after their action.
        from pyspark import StorageLevel

        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
        a_ids = cand.select(F.col("id_a").alias(id_col)).distinct()
        ex_a = (
            _hash_stream(df.join(a_ids, id_col, "left_semi"),
                         text_col, id_col, k)
            .distinct()
            .withColumnsRenamed({"id": "id_a"})
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        b_ids = cand.select(F.col("id_b").alias("__ref_id")).distinct()
        ex_b = (
            reference.join(b_ids, "__ref_id", "left_semi")
            .select(F.col("__ref_id").alias("id_b"),
                    F.explode("__ref_hs").alias("h"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if _persisted is not None:
            _persisted.extend((cand, ex_a, ex_b))
        verified = _jaccard_from_streams(cand, ex_a, ex_b)
        drop_ids = verified.filter(
            F.col("jaccard") >= float(min_jaccard)
        ).select(F.col("id_a").alias(id_col)).distinct()
        return df.join(drop_ids, id_col, "left_anti")
    if min_jaccard is not None:
        # verify against the union restricted to candidate ids — bodies
        # of non-candidates are never shingled. Ids are side-prefixed
        # ("n:"/"r:") before the union: the two corpora are independent
        # and may legitimately reuse the same id values, which would
        # otherwise merge their shingle sets.
        def tag(side):
            return lambda c: F.concat(F.lit(side), c.cast("string"))
        a_ids = cand.select(F.col("id_a").alias(id_col)).distinct()
        b_ids = cand.select(F.col("id_b").alias(id_col)).distinct()
        union = (
            df.join(a_ids, id_col, "left_semi")
            .select(tag("n:")(F.col(id_col)).alias(id_col), text_col)
            .unionByName(
                reference.join(b_ids, id_col, "left_semi")
                .select(tag("r:")(F.col(id_col)).alias(id_col), text_col)
            )
        )
        tagged_cand = cand.select(
            tag("n:")(F.col("id_a")).alias("id_a"),
            tag("r:")(F.col("id_b")).alias("id_b"),
        )
        verified = ngram_jaccard(union, tagged_cand, text_col, id_col, k)
        drop_keys = verified.filter(
            F.col("jaccard") >= float(min_jaccard)
        ).select(F.expr("substring(id_a, 3)").alias("__drop")).distinct()
        return df.join(
            drop_keys, F.col(id_col).cast("string") == F.col("__drop"),
            "left_anti",
        )
    drop_ids = cand.select(F.col("id_a").alias(id_col)).distinct()
    return df.join(drop_ids, id_col, "left_anti")


def ngram_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    min_hits: int = 1,
    broadcast: bool = True,
) -> DataFrame:
    """Benchmark decontamination by n-gram collision — the GPT-3
    Appendix-C rule (Brown et al. 2020; PaLM and Llama report the same
    scheme): drop any TRAINING document sharing at least ``min_hits``
    distinct word n-grams (default: any single 13-gram) with an
    evaluation benchmark. This is stricter and cheaper than fuzzy
    document dedup (``dedup_against``): a contaminated doc need only
    EMBED a benchmark item, not resemble it overall.

    Scale shape: the benchmark's distinct grams are a few million rows
    for real eval suites → broadcast semi-join against the training
    side's gram stream (``broadcast=False`` falls back to a shuffle
    join for pathological benchmark sizes); the training corpus
    explodes to (id, gram) windows via the same codegen'd path the LM
    scorer uses. Documents shorter than ``n`` tokens can never be
    flagged. Bodies never cross an exchange — only gram strings and
    ids.
    """
    from greenmask_spark.functions.lm import doc_ngrams

    doc_g = doc_ngrams(df, n, text_col, id_col)
    # the benchmark needs ONLY its text column — eval-suite tables
    # rarely share the training corpus's id column, and the ids are
    # discarded anyway (a synthetic constant id feeds doc_ngrams)
    bench_src = benchmark.select(
        F.lit(0).alias("__bid"),
        F.col(bench_text_col or text_col).alias("__btxt"),
    )
    bench_g = doc_ngrams(
        bench_src, n, "__btxt", "__bid"
    ).select("gram").distinct()
    if broadcast:
        bench_g = F.broadcast(bench_g)
    hits = doc_g.join(bench_g, "gram", "left_semi")
    if min_hits <= 1:
        contaminated = hits.select("id").distinct()
    else:
        contaminated = (
            hits.select("id", "gram").distinct()
            .groupBy("id").agg(F.count(F.lit(1)).alias("__h"))
            .filter(F.col("__h") >= int(min_hits))
            .select("id")
        )
    return df.join(
        contaminated.withColumnsRenamed({"id": id_col}), id_col,
        "left_anti",
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT word n-grams whose first corpus occurrence (minimum
    ``id_col`` over every document containing the gram) is this
    document — a corpus-diversity / redundancy score for training-data
    curation. A document can add almost no new n-grams without any
    single document being its near-duplicate (boilerplate quilts,
    template farms); near-dup and ExactSubstr dedup both miss that,
    and this is the per-document measure that exposes it (the additive
    complement of ``ngram_decontaminate``'s binary collision test,
    over the corpus itself instead of a benchmark).

    Returns (``id_col``, n_grams, n_novel, novelty) for EVERY input
    row: novelty = round(n_novel / n_grams, 4); documents with fewer
    than ``n`` tokens have no grams → (0, 0, NULL).

    Scale shape: grams are identified by their 60-bit sha256-slice
    hash (the ``_window_hash`` space — a 31-bit space would
    birthday-collide under a real corpus's billions of grams), so
    every exchange carries (id, bigint) or (bigint, bigint) slivers —
    document bodies never move. All aggregations are
    map-side-combinable: per-doc distinct grams, per-doc gram counts,
    gram → min(id) first-owner, owner → novel-count; the final join
    glues two #docs-row aggregate frames, never the gram stream.
    """
    from greenmask_spark.functions.lm import doc_ngrams
    from greenmask_spark.session import share_subtree, spread_input

    grams = share_subtree(
        doc_ngrams(spread_input(df), int(n), text_col, id_col)
        .select("id", _window_hash(F.col("gram")).alias("h"))
        .distinct(),
        # two consumers below (per-doc counts + first-owner) — un-
        # materialized, the tokenize → explode → hash → DISTINCT chain
        # (a full corpus pass plus the gram-stream shuffle) executes
        # once per consumer, and a LAZY checkpoint is no compute
        # barrier (the two consumers' aggregation map stages are
        # siblings the scheduler runs concurrently; each would
        # materialize the chain itself). share_subtree's persist IS a
        # compute barrier (block-manager per-partition compute locks)
        # and, unlike the r13 eager localCheckpoint, costs neither a
        # dedicated materialization job nor full physical planning at
        # plan-build time — the chain runs exactly once, inside the
        # first consumer's action, at every scale.
        "ngram_novelty.grams",
    )
    per_doc = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        grams.groupBy("h").agg(F.min("id").alias("id"))
        .groupBy("id").agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("id", id_col), id_col, "left")
        .join(novel.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            # a doc with grams but no novel ones scores 0.0 (its novel
            # join row is absent); only gram-less docs stay NULL
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0))
                / F.col("n_grams").cast("double"), 4
            ).alias("novelty"),
        )
    )


def prepare_reference(
    reference: DataFrame,
    level: str = "exact",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    k: int = 5,
    with_shingles: bool = True,
) -> DataFrame:
    """The reusable keyed form of a ``dedup_against`` reference corpus —
    compute once per reference, persist or write to parquet, then pass
    the frame to ``dedup_against`` for every incoming shard (detected
    by its ``__ref_*`` columns). The rolling-crawl production shape:
    the reference's text is shingled exactly once, not once per shard.

    - ``level="exact"`` → one ``__ref_key`` (sha256 hex digest) row per
      distinct document body; bytes stored per doc: 64.
    - ``level="fuzzy"`` → one row per document: ``__ref_id``,
      ``__ref_sig`` (the num_perm MinHash values — band keys for ANY
      bands choice dividing num_perm derive from it by projection), and
      ``__ref_hs`` (the distinct hashed-shingle set, needed only for
      ``min_jaccard`` verification; ``with_shingles=False`` drops it
      for band-only dedup at ~k× less storage). Built in ONE pass over
      the text: the flat (id, h) stream aggregates min-per-permutation
      and collect_set together, so preparation costs the same as one
      signature computation.

    The num_perm/k here must match the later ``dedup_against`` call —
    the stored values encode them. NULL-text reference docs are
    excluded from the fuzzy frame (they have no shingles and cannot
    meaningfully near-duplicate anything; the direct path's
    null-filled signatures could only band-collide with other NULLs).
    """
    if level == "exact":
        return reference.select(
            F.sha2(F.col(text_col), 256).alias("__ref_key")
        ).distinct()
    if level != "fuzzy":
        raise ValueError(f"level {level!r}: exact|fuzzy")
    # NULL-text docs are excluded (matching dedup_against's fuzzy
    # sides): they have no shingles and their null-filled signatures
    # could only band-collide with other NULLs
    ex = _hash_stream(
        reference.filter(F.col(text_col).isNotNull()), text_col, id_col, k
    )
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE)))
        .alias(f"m{i}")
        for i, (a, b) in enumerate(perm_constants(num_perm))
    ]
    if with_shingles:
        aggs.append(F.collect_set("h").alias("__ref_hs"))
    per_doc = ex.groupBy("id").agg(*aggs)
    cols = [
        F.col("id").alias("__ref_id"),
        F.array(*[f"m{i}" for i in range(num_perm)]).alias("__ref_sig"),
        # the num_perm/k contract with dedup_against, stored IN the
        # frame (constant ints — free after parquet RLE): a mismatched
        # later call would read past the stored signature array and
        # silently degrade to NULL band keys; dedup_against validates
        # these instead
        F.lit(int(num_perm)).alias("__ref_num_perm"),
        F.lit(int(k)).alias("__ref_k"),
    ]
    if with_shingles:
        cols.append(F.col("__ref_hs"))
    return per_doc.select(*cols)


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 5,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) sharing at least one band bucket.

    Plan shape: scan → project(signature) → explode(bands) → shuffle on
    band_key → self-join within buckets. The joined payload is just ids.
    """
    rows_per_band = num_perm // bands
    # agg-formulated signatures (codegen'd, parallel, one sha256 per
    # shingle); the aggregation's Exchange is a real barrier, so the
    # band-key explode reads materialized sig values instead of inlining
    # the signature pipeline into the generator (which blows the codegen
    # budget and re-runs interpreted, ~300× slower — measured at sf0.1)
    sigs = minhash_signatures_df(df, text_col, id_col, num_perm, k)
    keyed = sigs.select(
        "id",
        F.explode(band_keys(F.col("sig"), bands, rows_per_band)).alias("bk"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, on="bk")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _hash_stream(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Flat (id, h) hashed-k-shingle rows — the shared codegen'd
    explode shape behind ngram_jaccard / prepare_reference: one sha256
    per shingle, positional (duplicates retained — min/set consumers
    are insensitive), repartitioned first so a small single-row-group
    parquet file still uses every core."""
    from greenmask_spark.session import spread_input

    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return (
        spread_input(df)
        .select(F.col(id_col).alias("id"), norm.alias("t"))
        .select(
            "id", "t",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.length("t") - k + 1, F.lit(1))
                )
            ).alias("i"),
        )
        .select("id", _shingle_hash(F.expr(f"substr(t, i, {k})")).alias("h"))
    )


def _jaccard_from_streams(
    pairs: DataFrame, ex_a: DataFrame, ex_b: DataFrame
) -> DataFrame:
    """(id_a, id_b, jaccard) for candidate ``pairs`` given two DISTINCT
    (id_a|id_b, h) hashed-shingle streams — the two-corpus core of
    ``ngram_jaccard``'s agg strategy (used by the prepared-reference
    ``dedup_against`` path, where the reference stream comes from a
    stored frame rather than text). Shuffle payloads are (id, int)
    rows; bodies never cross an exchange."""
    sizes_a = ex_a.groupBy("id_a").agg(F.count(F.lit(1)).alias("sz_a"))
    sizes_b = ex_b.groupBy("id_b").agg(F.count(F.lit(1)).alias("sz_b"))
    inter = (
        pairs.join(ex_a, "id_a")
        .join(ex_b, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"inter": 0})
        .join(sizes_a, "id_a")
        .join(sizes_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                .cast("double"),
                4,
            ).alias("jaccard"),
        )
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    strategy: str = "agg",
    broadcast_max_rows: int = 1_000_000,
) -> DataFrame:
    """Exact hashed-k-shingle Jaccard for candidate pairs (verification).

    Two physical strategies with identical results:

    - ``agg`` (default — the scale path): join each candidate pair to
      its A-side (doc, hash) rows, look each hash up in the B side,
      and count |A|, |A∩B| per pair in one aggregation; |B| joins from
      per-doc sizes → |A∩B| / (|A|+|B|−|A∩B|). The shuffles carry only
      (id, int) rows — no arrays — so this survives corpora where the
      broadcast variant OOMs.
    - ``broadcast`` (opt-in for small corpora): the doc→hash-set map is
      broadcast so the pair stream never shuffles arrays. Only valid
      while the whole shingle map fits a broadcast — NOT the 100 TB path.

    ``auto`` resolves from catalog statistics when the optimizer exposes
    a row-count estimate, falling back to ``agg``. Query construction
    NEVER triggers an action (an earlier revision ran ``df.count()``
    here — a full eager corpus scan before any real work).

    Shingle sets build from flat codegen'd (id, h) rows deduped by a
    partial-aggregating groupBy — the array-of-hashes expression form
    ran the whole pipeline interpreted and re-evaluated it per consumer
    (~25-45s at sf0.1; ~2s now).
    """
    ex = _hash_stream(df, text_col, id_col, k).distinct()
    if strategy == "auto":
        # plan-time statistics only (no action): Catalyst's logical-plan
        # size estimate over the source relation. sizeInBytes is always
        # available (falls back to file size for parquet); treat ~100
        # bytes/doc as the conservative row proxy when rowCount is absent.
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        row_est = (
            int(str(stats.rowCount().get()))
            if not stats.rowCount().isEmpty()
            else int(str(stats.sizeInBytes())) // 100
        )
        strategy = "broadcast" if row_est <= broadcast_max_rows else "agg"
    if strategy == "broadcast":
        sh = ex.groupBy("id").agg(F.collect_list("h").alias("sh"))
        return (
            pairs.join(
                F.broadcast(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"})),
                "id_a")
            .join(F.broadcast(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"})),
                  "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(
                    F.size(F.array_intersect("sh_a", "sh_b"))
                    / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                    4,
                ).alias("jaccard"),
            )
        )
    if strategy != "agg":
        raise ValueError(f"unknown strategy {strategy!r}")
    # nothing is persisted: the pairs have ONE consumer, and the shingle
    # stream is recomputed per consumer from ``df`` (a caller that reads
    # an expensive lineage checkpoints it first, as dedup_clusters and
    # fuzzy_dedup do). Each pair's A-side rows count |A|; a left lookup
    # of every (id_b, h) counts |A∩B|; a per-doc size join gives |B| and
    # drops pairs whose id is absent from ``df``. A NULL-text doc has
    # one (id, NULL) row: it counts toward its size, never toward an
    # intersection. (Folding both sides' rows into (pair, h) groups,
    # with one stream consumer, aggregates twice the rows: 3-4x slower
    # at 49k candidate pairs on 4 vCPUs.)
    sizes_b = ex.groupBy(F.col("id").alias("id_b")).agg(
        F.count(F.lit(1)).alias("sz_b")
    )
    in_b = ex.select(F.col("id").alias("id_b"), "h", F.lit(1).alias("hit"))
    return (
        pairs.join(ex.withColumnRenamed("id", "id_a"), "id_a")
        .join(in_b, ["id_b", "h"], "left")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("sz_a"), F.count("hit").alias("inter"))
        .join(sizes_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )


def simhash(text: Column, bits: int = 16) -> Column:
    """SimHash over whitespace tokens as a pure expression.

    bit_j = 1 iff sum over tokens of (2*((h(tok)>>j)&1)-1) > 0.
    16 bits keeps the expression tree small; Hamming distance over the
    resulting int finds near-dups.
    """
    from greenmask_spark.functions.text_analysis import tokens

    toks = F.array_distinct(tokens(text))
    hs = F.transform(toks, _shingle_hash)
    def vote_fn(j: int):
        return lambda s, h: s + (
            F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1
        ).cast("int")

    acc = F.lit(0)
    for j in range(bits):
        vote = F.aggregate(hs, F.lit(0), vote_fn(j))
        acc = acc + F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return acc


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """(id, sh) — value-identical to the ``simhash`` expression in the
    fast parallel shape (same rationale as ``minhash_signatures_df``):
    distinct tokens explode to (id, h) rows — one sha256 per token — and
    the per-bit votes are ``bits`` codegen'd sum aggregates with
    map-side combine; the bit assembly runs on aggregated scalars."""
    from greenmask_spark.functions.text_analysis import tokens

    from greenmask_spark.session import spread_input

    ex = (
        spread_input(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode_outer(
                F.array_distinct(tokens(F.col(text_col)))
            ).alias("tok"),
        )
        .select("id", _shingle_hash(F.col("tok")).alias("h"))
    )
    votes = [
        F.sum(
            (F.shiftright("h", j).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = ex.groupBy("id").agg(*votes)
    sh = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sh = bit if sh is None else sh + bit
    return agg.select("id", sh.alias("sh"))


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Scale path: block on the top byte of the simhash (docs differing only
    in low bits still collide) rather than a full cross join. Signatures
    come from ``simhash_df`` — the codegen'd explode+aggregate form — not
    the interpreted ``simhash`` expression (identical values, ~300×
    faster per the r3 measurements).
    """
    s = simhash_df(df, text_col, id_col, bits)
    s = s.withColumn("blk", F.shiftright("sh", bits // 2))
    a, b = s.alias("a"), s.alias("b")
    xor = F.col("a.sh").bitwiseXOR(F.col("b.sh"))
    ham = sum(F.shiftright(xor, j).bitwiseAND(F.lit(1)) for j in range(bits))
    return (
        a.join(b, on="blk")
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "hamming")
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level line deduplication (the C4-style sub-document pass):
    every distinct non-blank line keeps only its FIRST occurrence — the
    smallest (doc, position) — and each document reassembles from its
    surviving lines in original order. Kills boilerplate (navigation,
    headers, license banners) that whole-document dedup never sees.

    Scale shape: first-occurrence selection is a groupBy(line) MIN over
    (doc, pos) structs — partial aggregation combines map-side, so a
    boilerplate line repeated a billion times arrives at its reducer as
    one row per map task (a window over partitionBy(line) would put the
    whole heavy key in one task). Blank lines pass through without
    joining the dedup shuffle at all. Reassembly is one groupBy(doc)
    with an array_sort on (pos, line) structs.

    Output: (id, text) with deduplicated text (empty string if every
    line was claimed by an earlier document).

    ``sep`` picks the unit: "\n" = lines (the C4 pass), "\n\n" =
    paragraphs (coarser, keeps intra-paragraph duplicated lines).
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.col(text_col), re.escape(sep))
        ).alias("pos", "line"),
    )
    blank = F.trim(F.col("line")) == ""
    ne = lines.filter(~blank)
    keepers = ne.groupBy("line").agg(
        F.min(F.struct("id", "pos")).alias("k")
    ).select("line", F.col("k.id").alias("id"), F.col("k.pos").alias("pos"))
    kept = ne.join(keepers, ["line", "id", "pos"], "left_semi")
    surviving = kept.unionByName(lines.filter(blank))
    rebuilt = (
        surviving.groupBy("id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias("text")
        )
    )
    # documents whose every line was deduplicated away still appear (blank
    # lines survive), EXCEPT single-line docs fully claimed — restore them
    # as empty strings via a left join from the id universe
    ids = df.select(F.col(id_col).alias("id"))
    return (
        ids.join(rebuilt, "id", "left")
        .select("id", F.coalesce("text", F.lit("")).alias("text"))
    )


# ---------------------------------------------------------------------------
# Exact substring-repeat detection/removal (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — the ExactSubstr pass)
# ---------------------------------------------------------------------------


def _window_hash(s: Column) -> Column:
    """Portable 60-bit window hash (sha256 hex slice → bigint) — the
    same SQL twin as the sampling/minhash hashes but WITHOUT the 31-bit
    MERSENNE fold: substring-repeat detection groups billions of
    windows and a 31-bit space would birthday-collide constantly.

    Use this where the hash VALUE is part of the output contract (the
    ngram_novelty gram space: its oracle replays the identical sha256
    slice in SQL). ``_candidate_hash`` is the cheap twin for stages
    whose output is hash-agnostic."""
    return F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10).cast("bigint")


def _candidate_hash(s: Column) -> Column:
    """Fast 64-bit window hash (xxhash64 — native codegen, no hex
    round-trip) for CANDIDATE generation whose final output is
    hash-agnostic: equal texts collide under any deterministic hash
    (no false negatives ever), and ``repeated_substring_spans``'s
    verify stage re-groups candidates by the actual window TEXT, so a
    collision can never flag an innocent span. The declared
    repeated_spans oracle replays window text, not hashes — switching
    the candidate hash is invisible to it by construction. sha256+conv
    cost ~20 codegen string ops per window and bought nothing here."""
    return F.xxhash64(s)


#: repeated_substring_spans verify gate: inputs estimated above this
#: use the skew-safe groupBy+semi verify (map-side combine + AQE skew
#: split) instead of the single-exchange count-over-g window, whose
#: per-text window partition has no partial aggregation — one hot
#: boilerplate window text would funnel every candidate into one task
#: at corpus scale. Both forms are value-identical (see the comment at
#: the use site).
_VERIFY_WINDOW_MAX_BYTES = 64 * 1024**2


def substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    length: int = 50,
    stride: int = 1,
) -> DataFrame:
    """(id, pos, h) for every length-``length`` character window of
    every document (1-based positions, every ``stride``-th start). The
    flat window stream behind ``repeated_substring_spans`` — exposed so
    callers can reuse/persist it across analyses.

    ``stride=1`` (the default) is EXACT: every repeat of ``length``+
    characters is guaranteed to produce colliding windows regardless of
    alignment. ``stride=s > 1`` trades completeness for an s× smaller
    stream: a repeat is only guaranteed to collide when it spans
    ``length + s - 1`` characters (some window start then falls inside
    it on both sides at the same phase ONLY if the alignment difference
    is a multiple of s — document-shifted copies may be missed). Rows
    are (long, int, long) slivers; the downstream groupBy combines
    map-side, so even stride=1 at corpus scale shuffles counts, not
    text."""
    if length < 1 or stride < 1:
        raise ValueError(f"length={length} and stride={stride} must be >= 1")
    t = F.col(text_col)
    # repartition first (the _hash_stream rationale): a small
    # single-row-group parquet source is ONE task, serializing the
    # per-window sha256 work onto one core
    from greenmask_spark.session import spread_input

    w = (
        spread_input(df.filter(t.isNotNull() & (F.length(t) >= length)))
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.sequence(
                    F.lit(1), F.length(t) - length + 1, F.lit(stride)
                )
            ).alias("pos"),
            t.alias("__t"),
        )
    )
    return w.select(
        "id", "pos",
        _candidate_hash(F.col("__t").substr(F.col("pos"), F.lit(length)))
        .alias("h"),
    )


def repeated_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    length: int = 50,
    stride: int = 1,
    min_count: int = 2,
    verify: bool = True,
    prefilter_buckets: int | None = None,
    _persisted: list | None = None,
) -> DataFrame:
    """(id, pos) of every window whose content occurs at least
    ``min_count`` times in the corpus (within OR across documents —
    both count, per ExactSubstr). This is the detection half of
    substring dedup: feed the spans to ``remove_repeated_spans`` or
    inspect them as a boilerplate report.

    Scale shape: windows reduce to (id, pos, h) BEFORE any shuffle;
    the repeat test is one map-side-combined count over h. With
    ``verify=True`` (default) the surviving candidates — typically a
    tiny fraction — are re-extracted from the documents and re-grouped
    by the actual window TEXT, so a hash collision can never
    flag an innocent span; the verify join touches only candidate
    (id, pos) rows and their source docs.

    ``prefilter_buckets=m`` engages a heavy-hitter sketch prefilter
    (two-pass) for 100 TB-scale low-dup corpora: pass 1 counts windows
    per ``h mod m`` bucket — the map-side combine caps that exchange
    at m (int, long) rows per task no matter how many windows a task
    holds — and only windows in buckets with ≥ ``min_count`` members
    proceed to the exact per-h count. The filter is a strict SUPERSET
    of the true repeats (a repeated h forces its bucket count ≥ its
    own count), so results are bit-identical to the unfiltered path;
    mod-collisions only cost false-positive pass-through, ~W/m per
    window on a low-dup corpus of W windows. Size m ≥ ~10× the
    expected windows per executor core; the hot-bucket list is ≤ the
    number of TRUE repeats + collision noise on low-dup corpora
    (AQE broadcasts it), but is capped at m rows by construction —
    pick m within broadcast budget. Default off: below ~10M windows
    the extra aggregation pass costs more than it saves.

    The window stream feeds two consumers (the repeat count and the
    candidate semi-join) — it persists once (MEMORY_AND_DISK,
    (id, pos, h) slivers; the ngram_jaccard convention) so the
    per-window sha256 pass runs exactly once. Pass a ``_persisted``
    list to receive the cache handle and control its lifetime
    yourself; WITHOUT it the function materializes the (small) span
    result eagerly via ``localCheckpoint`` and unpersists the window
    stream before returning, so the largest intermediate in this
    module never outlives the call (it would otherwise sit in the
    cache for the session, accumulating across pipeline runs)."""
    from pyspark import StorageLevel

    w = substring_spans(df, text_col, id_col, length, stride).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if _persisted is not None:
        _persisted.append(w)
    wf = w
    if prefilter_buckets is not None:
        m = int(prefilter_buckets)
        if m < 2:
            raise ValueError(f"prefilter_buckets={m} must be >= 2")
        hot_buckets = (
            w.groupBy(F.pmod(F.col("h"), F.lit(m)).alias("__b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= int(min_count))
            .select("__b")
        )
        wf = w.join(
            hot_buckets,
            F.pmod(F.col("h"), F.lit(m)) == F.col("__b"),
            "left_semi",
        )
    hot = (
        wf.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= int(min_count))
        .select("h")
    )
    cand = wf.join(hot, "h", "left_semi")
    if not verify:
        out = cand.select("id", "pos")
        return _finish_spans(out, w, _persisted)
    texts = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__t")
    )
    grams = (
        cand.join(texts, "id")
        .select(
            "id", "pos",
            F.col("__t").substr(F.col("pos"), F.lit(length)).alias("g"),
        )
    )
    # two value-identical verify formulations (g is never NULL here —
    # cand rows come from non-null docs of length >= window — so
    # window and groupBy grouping semantics agree):
    #
    # - LOCAL-scale (the default below the gate): one count-over-g
    #   window — a single candidate-sized exchange, and no second
    #   execution of the cand ⋈ texts subtree (the grouped/semi form
    #   references it twice and Spark re-executes per reference; no
    #   exchange reuse fires for this shape).
    # - AT-scale: the window form puts EVERY candidate of one hot
    #   boilerplate window text into a single window partition with
    #   no map-side combine — a single-task skew/spill hotspot (r13
    #   ADVICE). Above the gate the cand ⋈ texts subtree persists
    #   once (share_subtree — single execution, same protection) and
    #   the repeat test reverts to groupBy(g) [map-side combined] +
    #   a semi-join, which AQE skew handling can split.
    from greenmask_spark.session import est_input_bytes, share_subtree

    big = est_input_bytes(df)
    if big is not None and big > _VERIFY_WINDOW_MAX_BYTES:
        grams = share_subtree(grams, "dedup.spans_verify_grams")
        hot_g = (
            grams.groupBy("g").agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") >= int(min_count))
            .select("g")
        )
        out = grams.join(hot_g, "g", "left_semi").select("id", "pos")
        return _finish_spans(out, w, _persisted)
    wg = Window.partitionBy("g")
    out = (
        grams.select(
            "id", "pos", F.count(F.lit(1)).over(wg).alias("__c"))
        .filter(F.col("__c") >= int(min_count))
        .select("id", "pos")
    )
    return _finish_spans(out, w, _persisted)


def _finish_spans(
    out: DataFrame, w: DataFrame, _persisted: list | None
) -> DataFrame:
    """Default-path cleanup for ``repeated_substring_spans``: with no
    caller-owned ``_persisted`` handle, materialize the span result
    (tiny — candidate (id, pos) rows only) as an eager localCheckpoint
    and release the corpus-scale window stream NOW. Checkpoint blocks
    are freed by the ContextCleaner once the returned frame is
    unreachable, unlike CacheManager entries which pin forever."""
    if _persisted is not None:
        return out
    out = out.localCheckpoint(eager=True)
    w.unpersist()
    return out


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    length: int = 50,
    stride: int = 1,
    min_count: int = 2,
    spans: DataFrame | None = None,
    prefilter_buckets: int | None = None,
) -> DataFrame:
    """ExactSubstr removal: cut every character covered by a repeated
    length-``length`` window out of the documents (overlapping spans
    merge into one cut). Pass a precomputed ``spans`` frame — the
    (id, pos) output of ``repeated_substring_spans``, possibly built
    once and persisted — to skip re-detection. ``prefilter_buckets``
    forwards to the detection pass (heavy-hitter bucket prefilter;
    see ``repeated_substring_spans`` — exact results, much smaller
    count exchange on low-dup corpora).

    The surgery runs in an Arrow-batched pandas UDF over (text, sorted
    span starts): per-doc span lists are bounded by document length,
    and only documents WITH spans join the repair path — clean docs
    stream through untouched."""
    from pyspark.sql.functions import pandas_udf

    if spans is None:
        spans = repeated_substring_spans(
            df, text_col, id_col, length, stride, min_count,
            prefilter_buckets=prefilter_buckets,
        )
    per_doc = spans.groupBy("id").agg(
        F.sort_array(F.collect_list("pos")).alias("__ps")
    )
    L = int(length)

    # non-string annotations: pandas is imported locally, so a string
    # hint ('pd.Series') can't resolve from module globals
    @pandas_udf("string")
    def _cut(text: pd.Series, ps: pd.Series) -> pd.Series:  # noqa: F821
        def one(t, starts):
            if t is None or starts is None or len(starts) == 0:
                return t
            out, keep_from = [], 0
            cut_start, cut_end = None, None
            for p in starts:
                a, b = int(p) - 1, int(p) - 1 + L  # 1-based → [a, b)
                if cut_end is None:
                    cut_start, cut_end = a, b
                elif a <= cut_end:
                    cut_end = max(cut_end, b)
                else:
                    out.append(t[keep_from:cut_start])
                    keep_from = cut_end
                    cut_start, cut_end = a, b
            out.append(t[keep_from:cut_start])
            out.append(t[cut_end:])
            return "".join(out)

        return pd.Series([one(t, s) for t, s in zip(text, ps)])

    joined = df.join(
        per_doc, df[id_col] == per_doc["id"], "left"
    ).drop(per_doc["id"])
    return joined.withColumn(
        text_col,
        F.when(F.col("__ps").isNull(), F.col(text_col)).otherwise(
            _cut(F.col(text_col), F.col("__ps"))
        ),
    ).drop("__ps")


# ---------------------------------------------------------------------------
# Connected components → duplicate clusters
# ---------------------------------------------------------------------------

def _canonical_edges(e: DataFrame) -> DataFrame:
    """Orient (u > v), drop self-loops, dedup."""
    return (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every neighbor v > u re-links to m = min(N(u) ∪ {u}).

    One groupBy + one join, both keyed on u — Spark reuses the exchange, so
    a round is effectively a single shuffle of (int, int) rows.
    """
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: all neighbors ≤ u (plus u itself) link to their min."""
    o = _canonical_edges(e)
    m = o.groupBy("u").agg(F.min("v").alias("m"))
    pair = F.explode(
        F.array(
            F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
            F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
        )
    ).alias("p")
    return (
        o.join(m, "u")
        .select(pair)
        .select(F.col("p.a").alias("u"), F.col("p.b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) labels; component = MIN node id in the component.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — converges in
    O(log n) rounds to a forest of stars centered at each component's
    minimum, vs O(diameter) for naive label propagation. Every round
    shuffles only (int, int) edge rows; nothing is ever collected to the
    driver except a 2-value convergence fingerprint.

    Each round is eagerly localCheckpoint'ed so iteration k costs
    O(|edges|), not a re-execution of k chained join lineages (the same
    O(k²) trap the subset cyclic fixpoint avoids, subset/planner.py).

    Reference parity note: greenmask has no graph operator — this serves
    the LLM-pipeline dedup stage (candidate pairs → duplicate clusters),
    the canonical final step of MinHash/SimHash fuzzy dedup.
    """
    # per-round checkpoint storage: the default (None = MEMORY_AND_DISK)
    # is right on a cluster, but a local-mode scale sweep iterating a
    # few-hundred-million-edge graph pins several superseded rounds in
    # the one unified pool faster than the context cleaner frees them
    # (observed: execution-memory OOM at sf10's 328M pairs) — DISK_ONLY
    # caps the loop at scan bandwidth instead
    import os as _os

    from pyspark import StorageLevel as _SL

    _lvl_name = _os.environ.get("SPARK_GRAFT_CC_CHECKPOINT")
    _lvl = getattr(_SL, _lvl_name) if _lvl_name else None

    def _ckpt(df):
        return df.localCheckpoint(eager=True, storageLevel=_lvl)

    e = _ckpt(_canonical_edges(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ))
    nodes = _ckpt(
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    prev_sig, converged = None, False
    for _ in range(max_iter):
        e = _ckpt(_small_star(_large_star(e)))
        # order-insensitive fingerprint; bit_xor cannot overflow under ANSI
        sig = tuple(
            e.agg(
                F.count("*"),
                F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)),
            ).first()
        )
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # an unconverged edge set is not a star forest: a node may carry
        # several outgoing edges and the label join below would emit
        # DUPLICATE rows with wrong labels — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(O(log n) expected; raise max_iter)"
        )
    # converged star forest: each non-root appears exactly once as u with
    # v = its component's minimum; roots label themselves
    return (
        nodes.join(e, nodes["node"] == e["u"], "left")
        .select("node", F.coalesce("v", "node").alias("component"))
    )


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 5,
    min_jaccard: float | None = None,
) -> DataFrame:
    """Full fuzzy-dedup clustering: MinHash-LSH candidate pairs →
    [optional exact-Jaccard verification] → connected components →
    (doc_id, cluster_id) for EVERY document (docs with no near-dup
    candidate form their own singleton cluster). cluster_id is the
    minimum doc id of the cluster, so ``doc_id == cluster_id`` selects
    one canonical representative each.

    ``min_jaccard`` inserts the verification stage of the standard
    web-corpus pipeline (RefinedWeb/Dolma shape): LSH candidates whose
    exact hashed-shingle Jaccard falls below the threshold are dropped
    BEFORE clustering, so band-collision false positives can't chain
    unrelated docs into one giant component.

    The input is read once (see ``_near_dup_components``); the
    returned frame reads that checkpoint, not ``df``'s lineage.
    """
    df, cc = _near_dup_components(
        df, text_col, id_col, num_perm, bands, k, min_jaccard
    )
    ids = df.select(F.col(id_col).alias("node"))
    return (
        ids.join(cc, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", "node").alias("cluster_id"),
        )
    )


def fuzzy_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 5,
    min_jaccard: float | None = None,
) -> DataFrame:
    """Keep one representative (min id) per fuzzy-duplicate cluster —
    the end-to-end pipeline a training-data run actually executes.
    Every component member other than its root (the minimum id) drops
    in one anti-join; documents with a NULL id drop too (they belong
    to no cluster, so none of them is a representative)."""
    df, cc = _near_dup_components(
        df, text_col, id_col, num_perm, bands, k, min_jaccard
    )
    dups = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.filter(F.col(id_col).isNotNull()).join(
        dups, id_col, "left_anti"
    )


def _near_dup_components(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    bands: int,
    k: int,
    min_jaccard: float | None,
) -> tuple[DataFrame, DataFrame]:
    """(checkpointed ``df``, connected components of its [verified]
    candidate pairs). The input is materialized ONCE with an eager
    localCheckpoint: the signature pass, the verification stream and
    the caller's final join all read it instead of each re-running the
    upstream lineage (a chain of text filters in a corpus pipeline),
    and a non-deterministic input is pinned to one evaluation. The
    verified pairs stay lazy: ``connected_components`` checkpoints its
    input edges itself."""
    df = df.localCheckpoint(eager=True)
    pairs = minhash_candidates(df, text_col, id_col, num_perm, bands, k)
    if min_jaccard is not None:
        pairs = ngram_jaccard(df, pairs, text_col, id_col, k).filter(
            F.col("jaccard") >= float(min_jaccard)
        ).select("id_a", "id_b")
    return df, connected_components(pairs, "id_a", "id_b")
