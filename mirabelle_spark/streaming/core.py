"""Structured Streaming shell (SURVEY §2.8, M3).

The reference is a push engine driven by event time; Structured
Streaming preserves its semantics because the clock is the event
column, not arrival: the per-operator ``:delay`` lateness tolerance
(action.clj:2420-2432) IS ``withWatermark``, tumbling
``fixed-time-window``/aggregations ARE ``groupBy(window(...))``, and
per-key operator state IS the keyed state store.

Windowed aggregates have no twin here: each operator in
:mod:`~mirabelle_spark.operators.aggregations` /
:mod:`~mirabelle_spark.operators.windows` runs on streaming input
itself (watermarked ``window()`` grouping, ``delay_s``). This module
holds the keyed-state operators, sources and sinks.

Batch/stream parity contract: every function here produces the same
rows as its batch twin over the same finite input when run with an
``availableNow`` trigger (asserted in tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def file_source(
    spark: SparkSession, path: str, schema: str, fmt: str = "json"
) -> DataFrame:
    """File-drop ingest (the streaming analog of the reference's
    HTTP push endpoint, handler.clj:51-58): new files under ``path``
    become micro-batches."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def rate_source(spark: SparkSession, rows_per_sec: int = 100) -> DataFrame:
    """Synthetic load source for soak tests (transport/tcp.clj's
    role in dev)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_sec)
        .load()
        .select(
            F.col("timestamp").alias("time"),
            (F.col("value") % 100).cast("double").alias("metric"),
            F.concat(F.lit("host-"), (F.col("value") % 5)).alias("host"),
        )
    )


def _series_us(ts) -> "object":
    """pandas time Series → int64 numpy µs (exact integer time math,
    same rule as the batch twins)."""
    if str(ts.dtype).startswith("datetime64"):
        return ts.astype("int64").to_numpy() // 1_000
    return (ts.astype("float64") * 1_000_000).round().astype("int64").to_numpy()


def _native(v):
    """numpy scalar/array → python native for GroupState round-trips.

    Array-typed event columns (tags) arrive as ndarrays: ``.item()``
    only works on size-1 arrays, so sequences convert elementwise."""
    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return [_native(x) for x in v]
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v.item() if hasattr(v, "item") else v


def stream_dedup(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str = "time",
    within_s: float | None = None,
) -> DataFrame:
    """Streaming exact dedup: state-backed dropDuplicates; bounded
    state with ``dropDuplicatesWithinWatermark`` when a horizon is
    given (the 100 TB-safe mode)."""
    if within_s is not None:
        return df.withWatermark(time_col, f"{int(within_s)} seconds")\
                 .dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


def stream_curate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str | None = None,
    dedup_within_s: float | None = None,
    min_words: int = 50,
    rules: tuple[str, ...] = ("passes",),
    model: tuple[list[float], float] | None = None,
    dim: int = 16,
    dsir: tuple[list[float], float] | None = None,
    lm_gate: tuple[dict, float, int] | None = None,
    lm3_gate: tuple[dict, float, int] | None = None,
    contamination: tuple[list[int], int, int, int, int] | None = None,
    neardup: bool = False,
    neardup_bands: int = 8,
    neardup_hashes: int = 64,
    neardup_shingle_n: int = 3,
    neardup_shards: int = 64,
) -> DataFrame:
    """Streaming twin of the LLM-curation head (r11; near-dup r13):
    Gopher quality rules → exact dedup on the normalized-text hash
    (→ optional NEAR-dup dedup) → PII masking, composed over a
    streaming (or batch — same code) DataFrame.

    Stage shapes:

    - quality: :func:`~mirabelle_spark.pipeline.text.gopher_rules`
      is a pure projection (no shuffle) — stateless in a stream; the
      SAME Column expressions as the batch gate query, so parity is
      structural, not re-implemented.
    - dedup: batch ``dedup_exact``'s groupBy+min(id) winner is not
      expressible incrementally; the stream keeps the FIRST ARRIVAL
      per (xxhash64, md5) of the normalized text via state-backed
      ``dropDuplicates`` — ``dropDuplicatesWithinWatermark`` bounds
      the state when ``time_col`` + ``dedup_within_s`` are given
      (the 100 TB mode: state holds the horizon's 24-byte hash
      pairs, never document bodies). The min(id)-vs-first-arrival
      divergence is arrival order only; an id-ordered replay is
      bit-equal to batch (pytest-pinned).
    - masking: :func:`~mirabelle_spark.pipeline.sampling.mask_pii`
      is two regexp_replace passes — stateless.

    ``neardup=True`` (r13) adds incremental NEAR-duplicate dedup via
    :func:`stream_neardup_dedup`: banded-MinHash first-arrival
    survivors, state = 64-bit band hashes on the ``dedup_within_s``
    horizon, never bodies. In this mode the near-dup pass ABSORBS
    exact dedup (an exact-slot band on the full text hash) because
    its flatMapGroupsWithState stage cannot legally follow the
    dropDuplicates stage — semantics are exact ∪ near dedup either
    way (parity pytest-pinned against the batch compose).
    ``rules`` selects which gopher_rules boolean columns must all
    hold; ``model=(weights, bias)`` swaps the rule gate for a
    TRAINED quality classifier — still a stateless projection (see
    :func:`~mirabelle_spark.pipeline.sampling.curate_head`, the
    deterministic batch twin); ``dsir=(weights, min_logw)`` adds
    the trained DOMAIN gate after quality (importance log-weight ≥
    threshold — DSIR's streaming-safe form, since top-k is not
    incremental), also stateless;
    ``lm_gate=(model, max_bits_per_token, min_bigrams)`` adds the
    CCNet perplexity gate (r13) — the row-local fold form of
    :func:`mirabelle_spark.pipeline.lm.lm_gate_expr`, integer-exact
    and stateless, the same expression the batch head applies.

    ``lm3_gate=(model, max_bits_per_token, min_trigrams)`` (r14)
    swaps in the TRIGRAM gate: :func:`mirabelle_spark.pipeline.lm3.
    lm3_gate_expr`, the row-local fold form — bit-equal to the
    batch head's lm3_quality join (parity pytest), priced
    measured-slower and used here only because a streaming
    projection cannot join. Mutually exclusive with ``lm_gate``.

    ``contamination=(bloom_words, m_bits, k, shingle_n,
    min_shared)`` (r14, closing VERDICT r13 "What's missing #1")
    adds streaming DECONTAMINATION ahead of the LM gates (cheapest
    row filter first; all gates are pure filters so order is
    output-neutral):
    :func:`~mirabelle_spark.pipeline.sampling.
    contamination_gate_expr` drops any document with ≥ min_shared
    distinct shingle hashes the benchmark Bloom filter cannot rule
    out. The words come from a one-off batch
    :func:`~mirabelle_spark.pipeline.sampling.benchmark_bloom`
    distillation and ride the plan as a foldable literal — a
    STATELESS projection over driver-held bigints, which is exactly
    what a streaming gate can evaluate (the reference's analog:
    pinned condition predicates applied at the websocket edge,
    transport/websocket.clj:47-60). Bloom ⇒ no false negatives:
    every document the batch head's exact-confirm join would drop
    is dropped here too (streaming survivors ⊆ batch survivors);
    the only divergence is over-dropping at the designed
    false-positive rate (≤ C(s, min_shared)·fpr^min_shared per
    clean doc — see contamination_gate_expr's bound; the batch
    head's exact-confirm join remains the lossless offline path).
    Returns (id_col, [time_col], text_masked)."""
    from functools import reduce
    from operator import and_

    from mirabelle_spark.pipeline.dedup import normalized
    from mirabelle_spark.pipeline.sampling import mask_pii
    from mirabelle_spark.pipeline.text import gopher_rules, quality_gate_expr

    # precondition, validated before any gate is built (ADVICE r14:
    # the check used to sit inside the lm3 branch, after the lm
    # branch had already shaped the plan)
    if lm_gate is not None and lm3_gate is not None:
        raise ValueError("pass lm_gate or lm3_gate, not both")
    if model is not None:
        w, b = model
        passed = df.filter(
            quality_gate_expr(w, b, dim=dim, text_col=text_col) > 0
        )
    else:
        passed = (
            gopher_rules(df, text_col=text_col, min_words=min_words)
            .filter(reduce(and_, [F.col(r) for r in rules]))
            .select(*df.columns)
        )
    if dsir is not None:
        from mirabelle_spark.pipeline.sampling import dsir_gate_expr

        dw, thr = dsir
        passed = passed.filter(
            dsir_gate_expr(dw, text_col=text_col) >= F.lit(float(thr))
        )
    if contamination is not None:
        # streaming decontamination (r14): the Bloom membership test
        # is a stateless expression over driver-held bigints — the
        # benchmark never joins the stream; see the docstring's
        # no-false-negative / bounded-over-drop contract. Applied
        # BEFORE the LM gates — cheapest row filter first; order is
        # output-neutral (all pure filters), the fold-scan LM work
        # saved is proportional to the drop rate (r14 review)
        from mirabelle_spark.pipeline.sampling import contamination_gate_expr

        bwords, m_bits, bk, sh_n, min_sh = contamination
        passed = passed.filter(
            contamination_gate_expr(
                bwords, m_bits, k=bk, shingle_n=sh_n,
                min_shared=min_sh, text_col=text_col,
            )
        )
    if lm_gate is not None:
        # the CCNet perplexity gate (r13): lm_gate_expr is the FOLD
        # cost expression — row-local, stateless, no join — so it
        # composes into the stream exactly like the quality/domain
        # gates; the batch head applies the IDENTICAL expression
        # (structural parity, not re-implementation)
        from mirabelle_spark.pipeline.lm import lm_gate_expr

        lmodel, max_bpt, min_bg = lm_gate
        passed = passed.filter(
            lm_gate_expr(lmodel, max_bpt, min_bg, text_col=text_col)
        )
    if lm3_gate is not None:
        # the TRIGRAM perplexity gate (r14): a streaming projection
        # cannot join, so this is lm3_gate_expr — the row-local fold
        # form, bit-equal to the batch head's lm3_quality join path
        # (parity pytest) and priced as measured-slower (its
        # docstring); batch pipelines use the join
        from mirabelle_spark.pipeline.lm3 import lm3_gate_expr

        l3model, max_bpt3, min_tg = lm3_gate
        passed = passed.filter(
            lm3_gate_expr(l3model, max_bpt3, min_tg, text_col=text_col)
        )
    norm = normalized(F.col(text_col))
    hashed = passed.select(
        "*", F.xxhash64(norm).alias("__h64__"), F.md5(norm).alias("__h128__")
    )
    if dedup_within_s is not None and time_col is not None:
        uniq = hashed.withWatermark(
            time_col, f"{int(dedup_within_s)} seconds"
        ).dropDuplicatesWithinWatermark(["__h64__", "__h128__"])
    else:
        uniq = hashed.dropDuplicates(["__h64__", "__h128__"])
    keep = [id_col] + ([time_col] if time_col else [])
    if neardup:
        if time_col is None:
            raise ValueError(
                "stream_curate(neardup=True) requires time_col (the "
                "band-hash state evicts on the event clock)"
            )
        # the near-dup scan ABSORBS exact dedup (an extra exact-slot
        # band keyed on the full normalized-text hash), so the
        # dropDuplicates stage above is replaced, not chained —
        # flatMapGroupsWithState cannot follow another stateful
        # operator, and one state store beats two anyway
        base = passed.select(*df.columns)
        base = stream_neardup_dedup(
            base,
            text_col=text_col,
            id_col=id_col,
            time_col=time_col,
            num_hashes=neardup_hashes,
            bands=neardup_bands,
            shingle_n=neardup_shingle_n,
            shards=neardup_shards,
            state_ttl_s=dedup_within_s,
            exact=True,
        )
        return mask_pii(base, text_col=text_col).select(*keep, "text_masked")
    return mask_pii(uniq, text_col=text_col).select(*keep, "text_masked")


def stream_neardup_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str = "time",
    num_hashes: int = 64,
    bands: int = 8,
    shingle_n: int = 3,
    shingle_hash: str = "fast",
    shards: int = 64,
    state_ttl_s: float | None = None,
    exact: bool = False,
) -> DataFrame:
    """Streaming NEAR-duplicate dedup (r13, closing the r11/r12
    "streaming near-dup in the curation head" gap): first-arrival
    survivors under banded MinHash-LSH — a document is dropped iff
    ANY of its band buckets was seen earlier (by any earlier doc,
    kept or dropped — the transitive rule, which on an id-ordered
    replay equals the batch derivation "drop every id_b of
    :func:`~mirabelle_spark.pipeline.dedup.minhash_lsh_candidates`";
    parity pytest-pinned).

    Scale shape — state NEVER holds document bodies:

    1. :func:`~mirabelle_spark.pipeline.dedup.minhash_band_keys`
       computes the banded signature IN-ROW (stateless projection,
       zero shuffle, bucket-partition-identical to the batch LSH).
    2. posexplode to one narrow row per band; the ORIGINAL row rides
       as a struct on the pos-0 row only, so document bodies cross
       the two shuffles ~once, not ``bands`` times.
    3. ONE sharded keyed-state pass (the keyed-state shell's shard layout:
       ``shards`` state groups, not one per band hash): state is a
       set of 64-bit band keys (+ last-seen event time for the
       ``state_ttl_s`` horizon eviction) — ~8 bytes per band key
       per horizon, never text. Emission is immediate (processing
       time), not watermark-gated: the verdict for a doc depends
       only on state already present when its batch runs.
    4. batch-local reassembly: repartition on the doc id (all of a
       doc's band rows sit in the same micro-batch), then a
       stateless mapInPandas keeps docs with zero duplicate bands
       and re-emits the carried original rows. Buffering = one
       partition of one micro-batch, not stream state.

    Within one micro-batch the winner of a new band bucket is the
    (event-time, arrival)-first row — deterministic under an
    ordered replay; across batches it is strict first arrival.
    DIVERGENCE vs batch: the batch near-dup family elects min(id)
    per cluster; this elects the first arrival (the exact-dedup
    stage's documented divergence, at band grain). On an id-ordered
    replay the two coincide.

    ``exact=True`` appends an exact-slot band (band_id = ``bands``,
    key = xxhash64 of the normalized text) so identical documents
    dedup even below ``shingle_n`` words — the
    :func:`stream_curate` mode, where this pass REPLACES the
    separate dropDuplicatesWithinWatermark stage (chaining a
    flatMapGroupsWithState after another stateful operator is
    unsupported, and one state store beats two). 64-bit keys accept
    a ~n²/2⁶⁵ false-drop collision risk, the ``gram_hash="fast"``
    convention. Docs shorter than ``shingle_n`` words with
    ``exact=False`` carry only the never-dup sentinel band and
    always survive (no signature ⇒ no LSH candidacy, the batch
    convention)."""
    from mirabelle_spark.pipeline.dedup import minhash_band_keys, normalized

    bk = minhash_band_keys(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        bands=bands, shingle_n=shingle_n, shingle_hash=shingle_hash,
    )
    arr = F.col("__bands__")
    if exact:
        exact_band = F.struct(
            F.lit(int(bands)).alias("band_id"),
            F.xxhash64(
                F.lit(int(bands)), normalized(F.col(text_col))
            ).alias("band_key"),
        )
        # the sentinel is redundant once every doc has the exact slot
        arr = F.concat(
            F.filter(arr, lambda b: b["band_id"] >= 0), F.array(exact_band)
        )
    return _stream_band_dedup(
        bk.withColumn("__bands__", arr), df, id_col, time_col, shards,
        state_ttl_s,
    )


def stream_image_neardup_dedup(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    time_col: str = "time",
    shards: int = 64,
    state_ttl_s: float | None = None,
) -> DataFrame:
    """Streaming IMAGE near-dup dedup (r16 — the perceptual-hash
    twin of :func:`stream_neardup_dedup`): first-arrival survivors
    at dHash band grain. A media row is dropped iff ANY of its four
    16-bit dHash bands (:func:`mirabelle_spark.pipeline.multimodal.
    image_dhash_band_col` — real netpbm decode, in-row, one Arrow
    pass) was seen earlier, by any earlier row, kept or dropped —
    the transitive any-band rule, which upper-bounds the batch
    pigeonhole candidacy (Hamming ≤ 3 implies a shared band, so
    every batch near-dup is caught; a lone-band collision with a
    far image can additionally drop — the same band-grain
    divergence the text twin documents). State = band keys + last
    event time, NEVER media bytes; undecodable media carries the
    never-dup sentinel and always survives. Same shell, same
    sharded state tier, same TTL semantics as the text twin; batch
    parity on an id-ordered replay is pytest-pinned."""
    from mirabelle_spark.pipeline.multimodal import image_dhash_band_col

    return _stream_band_dedup(
        image_dhash_band_col(df, media_col=media_col, id_col=id_col),
        df, id_col, time_col, shards, state_ttl_s,
    )


def _stream_band_dedup(
    bk: DataFrame,
    df: DataFrame,
    id_col: str,
    time_col: str,
    shards: int,
    state_ttl_s: float | None,
) -> DataFrame:
    """The shared keyed-state shell of the streaming near-dup twins
    (text MinHash bands, image dHash bands): posexplode the in-row
    ``__bands__`` struct array (original row rides the pos-0 row
    only), one sharded keyed-state pass marking band keys seen in
    any earlier batch (band_id < 0 = never-dup sentinel), then
    batch-local reassembly of zero-duplicate-band rows. ``bk`` must
    be ``df`` plus ``__bands__``; output schema == ``df``'s."""
    cols = list(df.columns)
    ex = (
        bk.select(
            F.col(id_col),
            F.col(time_col),
            F.struct(*[F.col(c) for c in cols]).alias("__row__"),
            F.posexplode(F.col("__bands__")).alias("__p__", "__b__"),
        ).select(
            F.col(id_col),
            F.col(time_col),
            F.col("__b__.band_id").alias("__band_id__"),
            F.col("__b__.band_key").alias("__band_key__"),
            F.when(F.col("__p__") == 0, F.col("__row__")).alias("__row__"),
        )
    )

    def fold(carry, segs, pdf):
        import numpy as np

        real = pdf["__band_id__"].to_numpy() >= 0
        dup = np.zeros(len(pdf), dtype=bool)
        for k, s0, e0 in segs:
            # sentinel rows (band_id < 0) never duplicate and never
            # seed state; a key's first real row checks the carry,
            # every later one in the batch is a duplicate of it
            hit = np.flatnonzero(real[s0:e0])
            if hit.size:
                dup[s0 + hit] = True
                dup[s0 + hit[0]] = k in carry
                carry[k] = 1
        res = pdf.copy()
        res["__dup__"] = dup
        return res

    scanned = _keyed_scan(
        ex, ["__band_key__"], time_col, fold, shards,
        extra_out="__dup__ boolean", state_ttl_s=state_ttl_s,
    )
    # Row-format shim: FlatMapGroupsInPandasWithStateExec declares
    # row output but emits ColumnarBatchRow, and the repartition
    # exchange's UnsafeRowSerializer cast-fails on it (no
    # ColumnarToRow transition gets planned for a node that claims
    # rows). A column-REORDERING projection is kept by the optimizer
    # (output != child.output, so RemoveNoopOperators spares it) and
    # ProjectExec always materializes UnsafeRow.
    scanned = scanned.select(
        "__dup__", F.col(id_col), F.col(time_col),
        "__band_id__", "__band_key__", "__row__",
    )
    out_fields = [f.name for f in df.schema.fields]

    def reassemble(it):
        import pandas as pd

        chunks = list(it)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if not len(pdf):
            return
        bad = set(pdf.loc[pdf["__dup__"], id_col].tolist())
        rows = pdf[pdf["__row__"].notna() & ~pdf[id_col].isin(bad)]
        if not len(rows):
            return
        yield pd.DataFrame(list(rows["__row__"]), columns=out_fields)

    return scanned.repartition(F.col(id_col)).mapInPandas(
        reassemble, schema=df.schema
    )


# -- sinks ------------------------------------------------------------------


def to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    trigger_available_now: bool = True,
):
    """Memory sink (the test tap): returns the started query. Use
    output_mode="complete" for aggregations in parity tests — append
    only emits windows already sealed by the watermark, which by
    design excludes the final window of a finite input."""
    w = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def to_json_files(df: DataFrame, path: str, checkpoint: str, partition_by: Sequence[str] = ()):
    """JSON-lines file sink with optional field partitioning — the
    reference's file output (output/file.clj:10-50); path templating
    by event fields maps to partitionBy directories."""
    w = df.writeStream.format("json").option("path", path).option(
        "checkpointLocation", checkpoint
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w.trigger(availableNow=True).start()


def to_console(df: DataFrame):
    """debug/info logging sink (action.clj:177-230)."""
    return df.writeStream.format("console").trigger(availableNow=True).start()


def reinject_sink(
    df: DataFrame, topic_dir: str, checkpoint: str, trigger_available_now: bool = True
):
    """``reinject!`` streaming loopback, write half
    (action.clj:1643-1678): emit events onto a named loopback topic.
    Locally the topic is a JSON directory; on a cluster it is a Kafka
    topic (same one-line writeStream swap). A Spark query DAG is
    acyclic, so the reinjection cycle lives at the TOPIC level: the
    destination stream reads the topic via :func:`reinject_source` —
    including the emitting stream itself (union its input with the
    loopback source for a self-cycle; bound it with a condition or
    the loop never drains, exactly like the reference's runaway
    reinject)."""
    w = (
        df.writeStream.format("json")
        .option("path", topic_dir)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def reinject_source(spark: SparkSession, topic_dir: str, schema: str) -> DataFrame:
    """``reinject!`` read half: subscribe a (destination) stream to a
    loopback topic."""
    return file_source(spark, topic_dir, schema)


def stream_smax_jvm(
    df: DataFrame,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
) -> DataFrame:
    """Pure-JVM smax tier (VERDICT r7 ask #1b): keyed streaming
    aggregation ``max(struct(metric, -t, row))`` — scalar-struct
    state in Spark's own state store, NO Python on the path at all.

    Emission grain is the trade vs :func:`stream_smax`, which
    forwards the best-so-far event for EVERY input event
    (action.clj:2742-2772's per-event Riemann semantics); this tier
    emits one best-so-far row per key per micro-batch that touched
    the key (update output mode) — at 1M+ hot keys that is the
    emission grain an alert consumer can absorb anyway, and the last
    update per key is bit-equal to the batch twin's final best
    (parity pytest). Tie-breaks deterministically: strictly greater
    metric wins, then the EARLIEST event (:func:`stream_smax`'s
    first-winner-on-ties rule under time-ordered arrival); a NULL
    metric never beats a non-null one (struct ordering sorts nulls
    lowest), diverging from :func:`stream_smax`'s "a null first event
    occupies the slot" edge.

    State per key is one struct row (bounded by key cardinality, no
    row buffers); use ``.outputMode("update")`` on the writer."""
    is_ts = dict(df.dtypes)[time_col].startswith("timestamp")
    tnum = (
        F.unix_micros(F.col(time_col))
        if is_ts
        else F.col(time_col).cast("double")
    )
    best = F.max(
        F.struct(
            F.col(metric_col).alias("__m__"),
            (-tnum).alias("__nt__"),
            F.struct(*[F.col(c) for c in df.columns]).alias("__row__"),
        )
    ).alias("__best__")
    return df.groupBy(*[F.col(c) for c in by]).agg(best).select("__best__.__row__.*")


def stream_smin_jvm(
    df: DataFrame,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
) -> DataFrame:
    """Pure-JVM smin tier: :func:`stream_smax_jvm` over the negated
    metric, negated back (the same composition as the per-key
    :func:`stream_smin`; -NULL = NULL so null metrics still lose)."""
    neg = df.withColumn(metric_col, -F.col(metric_col))
    out = stream_smax_jvm(neg, by, time_col, metric_col)
    return out.withColumn(metric_col, -F.col(metric_col))


# -- keyed state shell --------------------------------------------------------
# Every keyed streaming operator below is ONE segment-grain fold,
# ``fold(carry, segs, pdf) -> out_pdf``: ``pdf`` is a micro-batch
# slice in event-time order within each key, every key is exactly one
# contiguous segment (``segs``), and ``carry`` maps a key to its
# JSON-able state, read at segment starts and written back per key.
# The shell owns everything else — key identity, grouping, time sort,
# TTL eviction and the carry codec — and runs the fold in one of two
# layouts, chosen by ``shards`` alone:
#
# - per key (``shards=None``): one applyInPandasWithState group per
#   ``by`` tuple, the slice is one segment and the carry holds one key;
# - sharded (``shards=N``): one group per ``pmod(xxhash64(keys), N)``
#   and one carry map per shard. applyInPandasWithState calls Python
#   once per GROUP per micro-batch, so at 10^6 keys the per-key
#   interpreter round-trips, not the fold, dominate (PERF §39: ewma
#   7.9k ev/s per key vs 214k sharded). The trade: the whole shard map
#   round-trips per batch — right when most keys are touched each
#   batch; sparse-update workloads stay per key.

_SHARD_COL = "__shard__"
_NULL_KEY = "\x00null"
_KEY_SEP = "\x1f"
_INT_TYPES = ("tinyint", "smallint", "int", "bigint", "long")
_FLOAT_TYPES = ("float", "double")

# ewma: key runs longer than this take the scalar loop — the
# vectorized stepper costs O(max run) numpy dispatches per batch, so
# one hot key must not set the step count for the whole shard.
_EWMA_VEC_CAP = 512


class _Segs:
    """The key segments of a slice: rows ``starts[i]:ends[i]`` are all
    of key ``keys[i]``'s rows, in event-time order; no key repeats."""

    __slots__ = ("keys", "starts", "ends")

    def __init__(self, keys, starts, ends):
        self.keys, self.starts, self.ends = keys, starts, ends

    def __iter__(self):
        return zip(self.keys, self.starts.tolist(), self.ends.tolist())

    def filter(self, keep):
        """The segments of ``pdf[keep]``; keys left without rows drop."""
        import numpy as np

        pos = np.concatenate(([0], np.cumsum(keep)))
        s, e = pos[self.starts], pos[self.ends]
        live = e > s
        keys = [k for k, x in zip(self.keys, live.tolist()) if x]
        return _Segs(keys, s[live], e[live])


def _shard_key_strings(pdf, key_cols, key_dtypes, nulls=None):
    """Composite string key per row under Spark's grouping identity.

    - NULL folds under a sentinel distinct from any real value. Arrow
      hands a float/double column's NULL and NaN to pandas alike as
      NaN, so ``nulls`` ({col: bool array}) carries the real NULL mask
      for those columns; Spark groups NaN apart from NULL and so does
      this. Without a mask NaN reads as NULL (right for integral
      columns, which Arrow upcasts to float64 when they hold NULLs).
    - -0.0 and 0.0 are one key, as in Spark's grouping (and in
      ``xxhash64``, so both land in one shard).
    - TYPE-STABLE across micro-batches: integral Spark types format
      through int(v), so an int64 key seen as float64 in a
      NULL-bearing slice still reads "7", not "7.0".
    - INJECTIVE under adversarial string values: a value containing
      the separator or the escape byte is escaped (\\x00 -> \\x00"0",
      \\x1f -> \\x00"1") before joining, so escaped values never
      contain a bare separator and can never spell the null sentinel
      (whose second byte 'n' follows \\x00 only in the sentinel)."""

    def esc(s):
        if "\x00" in s or _KEY_SEP in s:
            return s.replace("\x00", "\x00" + "0").replace(_KEY_SEP, "\x00" + "1")
        return s

    def conv_for(dtype):
        if dtype in _INT_TYPES:
            return lambda v: str(int(v))
        if dtype in _FLOAT_TYPES:
            return lambda v: "NaN" if v != v else ("0.0" if v == 0 else repr(v))
        return lambda v: esc(str(v))

    def strings(c, dtype):
        conv = conv_for(dtype)
        vals = pdf[c].tolist()
        mask = nulls.get(c) if nulls else None
        if mask is None:
            return [_NULL_KEY if v is None or v != v else conv(v) for v in vals]
        return [_NULL_KEY if m else conv(v) for v, m in zip(vals, mask.tolist())]

    cols = [strings(c, t) for c, t in zip(key_cols, key_dtypes)]
    if len(cols) == 1:
        return cols[0]
    return [_KEY_SEP.join(row) for row in zip(*cols)]


def _is_null(v):
    if v is None:
        return True
    if isinstance(v, float) or hasattr(v, "isoformat"):
        return v != v  # NaN, NaT
    return False


def _value_codec(dtype: str):
    """``(enc, dec)`` carrying one cell of Spark type ``dtype`` through
    the JSON carry: ``dec(enc(v)) == v`` for the value pandas hands
    the fold, and NULL (None/NaN/NaT) encodes as None. Types JSON
    cannot hold (timestamps, dates, decimals, binary, day-time
    intervals) get a lossless text or integer form."""
    import datetime
    from decimal import Decimal

    import pandas as pd

    if dtype.startswith("timestamp"):
        enc, dec = (lambda v: v.isoformat()), pd.Timestamp
    elif dtype == "date":
        enc, dec = (lambda v: v.isoformat()), datetime.date.fromisoformat
    elif dtype.startswith("decimal"):
        enc, dec = str, Decimal
    elif dtype == "binary":
        enc, dec = (lambda v: bytes(v).hex()), bytes.fromhex
    elif dtype.startswith("interval"):
        enc, dec = (lambda v: int(v.value)), (lambda v: pd.Timedelta(v, unit="ns"))
    else:
        enc, dec = _native, (lambda v: v)
    return (
        lambda v: None if _is_null(v) else enc(v),
        lambda v: None if v is None else dec(v),
    )


def _json_cell(v):
    """``json.dumps`` default for nested cells (arrays, structs, maps):
    a canonical JSON form, so two cells are equal iff their dumps are."""
    import numpy as np

    if isinstance(v, np.ndarray):
        return v.tolist()
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _ddl(fields) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)


def _keyed_scan(
    df: DataFrame,
    by,
    time_col: str,
    fold,
    shards: int | None = None,
    out_schema: str | None = None,
    extra_out: str | None = None,
    state_ttl_s: float | None = None,
    ttl_clock: str = "event",
) -> DataFrame:
    """Run ``fold`` as keyed streaming state (see the section note).

    Output rows are the fold's rows, shaped like the input plus the
    ``extra_out`` DDL columns, or exactly ``out_schema`` when given.
    Within a micro-batch each key's rows fold in event-time order,
    time ties in arrival order.

    ``state_ttl_s`` is the reference's `by` fork GC (action.clj:1559-
    1582 :fork-ttl): a key idle past the ttl loses its carry — its next
    event starts fresh — so state stays bounded by the active key set.

    - per key: a GroupState timeout on ``ttl_clock`` — ``"event"``
      (watermark-driven; needs a watermark on ``df``, and Spark then
      drops late rows before the operator) or ``"processing"``
      (wall clock: the reference's :gc-interval timer, no watermark,
      late rows still delivered);
    - sharded: evicted INSIDE the shard map on the event clock, which
      shard-level GroupState timeouts cannot express per key: before
      the fold a key whose gap since its last event exceeds the ttl
      restarts from scratch, and after it keys idle past the ttl
      behind the shard's running max event time are dropped.

    The carry is state ``carry STRING``: JSON of the key's carry (per
    key) or of ``{"c": carry map, "t": last event µs per key}`` (sharded;
    ``"t"`` only with a ttl)."""
    import json as _json

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_cols = list(by)
    dtypes = dict(df.dtypes)
    key_dtypes = [dtypes[c] for c in key_cols]
    if out_schema is None:
        out_schema = _ddl(df.schema.fields) + (f", {extra_out}" if extra_out else "")
    ttl_us = int(round(state_ttl_s * 1_000_000)) if state_ttl_s else None
    one_key = ""
    masks, helper_cols = {}, []
    if shards:
        masks = {
            c: f"__null{i}__"
            for i, c in enumerate(key_cols)
            if dtypes[c] in _FLOAT_TYPES
        }
        src = df.withColumn(
            _SHARD_COL,
            F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(shards)),
        )
        for c, m in masks.items():
            src = src.withColumn(m, F.col(c).isNull())
        helper_cols = [_SHARD_COL, *masks.values()]
        group = src.groupBy(F.col(_SHARD_COL))
        timeout = GroupStateTimeout.NoTimeout
    else:
        # the state store keys a group by its key's raw bytes, which
        # would split -0.0 from 0.0 (and one NaN bit pattern from
        # another) across micro-batches: group float keys on their
        # canonical value, as Spark's own grouping does
        canon = {
            c: f"__key{i}__"
            for i, c in enumerate(key_cols)
            if dtypes[c] in _FLOAT_TYPES
        }
        src = df
        for c, h in canon.items():
            x = F.col(c)
            src = src.withColumn(
                h,
                F.when(F.isnan(x), F.lit(float("nan")))
                .when(x == 0, F.lit(0.0))
                .otherwise(x)
                .cast(dtypes[c]),
            )
        helper_cols = list(canon.values())
        group = src.groupBy(*[F.col(canon.get(c, c)) for c in key_cols])
        timeout = (
            GroupStateTimeout.NoTimeout
            if not ttl_us
            else GroupStateTimeout.ProcessingTimeTimeout
            if ttl_clock == "processing"
            else GroupStateTimeout.EventTimeTimeout
        )

    def segment(pdf):
        """The shard slice regrouped: one contiguous segment per key,
        keys in first-seen order, event-time order kept inside each."""
        nulls = {c: pdf[m].to_numpy(dtype=bool) for c, m in masks.items()}
        pdf = pdf.drop(columns=helper_cols)
        codes, uniq = pd.factorize(
            np.asarray(_shard_key_strings(pdf, key_cols, key_dtypes, nulls), dtype=object)
        )
        if (codes[1:] < codes[:-1]).any():
            order = np.argsort(codes, kind="stable")
            codes = codes[order]
            pdf = pdf.take(order)
            pdf.index = pd.RangeIndex(len(pdf))
        starts = np.flatnonzero(np.concatenate(([True], codes[1:] != codes[:-1])))
        ends = np.append(starts[1:], len(codes))
        return pdf, _Segs(uniq[codes[starts]].tolist(), starts, ends)

    def evict_idle(seen, carry, segs, tv):
        """Restart rule, BEFORE the fold: a key whose gap since its
        last event exceeds the ttl folds from scratch."""
        for k, s0, _ in segs:
            prev = seen.get(k)
            if prev is not None and int(tv[s0]) - prev > ttl_us:
                del seen[k]
                carry.pop(k, None)

    def bound_idle(seen, carry, segs, tv):
        """Memory bound, AFTER the fold: keys idle past the ttl on the
        shard's event clock drop even if they never return."""
        for k, _, e0 in segs:
            t_last = int(tv[e0 - 1])
            prev = seen.get(k)
            seen[k] = t_last if prev is None else max(prev, t_last)
        cutoff = max(seen.values()) - ttl_us
        for k in [k for k, t in seen.items() if t < cutoff]:
            del seen[k]
            carry.pop(k, None)

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        if not pdf[time_col].is_monotonic_increasing:
            pdf = pdf.sort_values(time_col, kind="mergesort", ignore_index=True)
        if shards:
            blob = _json.loads(state.get[0]) if state.exists else {}
            carry = blob.get("c", {})
            seen = blob.get("t", {})
            pdf, segs = segment(pdf)
            if ttl_us:
                tv = _series_us(pdf[time_col])
                evict_idle(seen, carry, segs, tv)
            out = fold(carry, segs, pdf)
            if ttl_us:
                bound_idle(seen, carry, segs, tv)
            state.update((_json.dumps({"c": carry, "t": seen} if ttl_us else {"c": carry}),))
        else:
            if helper_cols:
                pdf = pdf.drop(columns=helper_cols)
            carry = {one_key: _json.loads(state.get[0])} if state.exists else {}
            segs = _Segs([one_key], np.array([0]), np.array([len(pdf)]))
            out = fold(carry, segs, pdf)
            if one_key in carry:
                state.update((_json.dumps(carry[one_key]),))
                if ttl_us and ttl_clock == "processing":
                    state.setTimeoutDuration(ttl_us // 1000)
                elif ttl_us:
                    # clamp above the watermark: an out-of-order tail
                    # event can put last-event + ttl BEHIND the
                    # watermark, which Spark rejects; the key then
                    # just times out at the next bound
                    t = pdf[time_col].max()
                    mx = (
                        int(t.value // 1_000_000)
                        if hasattr(t, "value")
                        else int(float(t) * 1000)
                    )
                    wm = state.getCurrentWatermarkMs()
                    state.setTimeoutTimestamp(max(mx + ttl_us // 1000, wm + 1))
        if out is not None and len(out):
            yield out

    return group.applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="carry STRING",
        outputMode="append",
        timeoutConf=timeout,
    )


def _cell_native(v):
    """One buffered cell → JSON-able (timestamps to isoformat — the
    row buffers' rule, applied per value)."""
    return _native(v.isoformat() if hasattr(v, "isoformat") else v)


class _RawCols:
    """Cell access for the row-buffer folds, adaptive to the touch
    density the batch size implies. ``pdf[c].iloc[i]`` per touch pays
    a Series lookup + slice object; two regimes fix it:

    - small/medium batches (≤ ``_DENSE_MAX`` rows — where a fold may
      touch MOST rows, e.g. every key buffering at 1M distinct
      keys): one lazy ``.tolist()`` per touched column, then plain
      list indexing (measured 2-2.7× on the §43 worst case);
    - huge batches (a 10M-row availableNow pass touching only a few
      thousand buffered cells): cached-Series ``.iat``/``.iloc`` —
      whole-column materialization there costs more than it saves.

    Both regimes yield the same values (datetime64 → pd.Timestamp →
    isoformat, numpy scalars native via _native)."""

    _DENSE_MAX = 2_000_000

    def __init__(self, pdf):
        self._pdf = pdf
        self._dense = len(pdf) <= self._DENSE_MAX
        self._cols: dict = {}

    def _series(self, c):
        got = self._cols.get(c)
        if got is None:
            got = self._cols[c] = (
                self._pdf[c].tolist() if self._dense else self._pdf[c]
            )
        return got

    def cell(self, c, i):
        col = self._series(c)
        return _cell_native(col[i] if self._dense else col.iat[i])

    def row(self, cols, i):
        return {c: self.cell(c, i) for c in cols}

    def slice_native(self, c, i, j):
        col = self._series(c)
        vals = col[i:j] if self._dense else col.iloc[i:j]
        return [_cell_native(v) for v in vals]


def _revive_datetime_cols(bdf, like_pdf):
    import pandas as pd

    for c in like_pdf.columns:
        if str(like_pdf[c].dtype).startswith("datetime64"):
            # isoformat drops the fraction of a whole second, so one
            # column mixes two layouts: parse each as ISO 8601
            bdf[c] = pd.to_datetime(bdf[c], format="ISO8601")
    return bdf


def _revive_ts_fields(e, ts_cols):
    """One buffered JSON row dict → emission: isoformat strings back
    to pd.Timestamp for EVERY timestamp-typed column — a
    timestamp-typed payload field must round-trip the JSON buffer
    exactly like the time column (ADVICE r8 #2 and siblings)."""
    import pandas as pd

    rv = {c: pd.Timestamp(e[c]) for c in ts_cols if e.get(c) is not None}
    return {**e, **rv} if rv else e


def _events_col_ddl(df: DataFrame) -> str:
    return f"events array<struct<{_ddl(df.schema.fields)}>>"


# -- keyed operators: one fold each -------------------------------------------
# ``shards`` picks the shell layout only; a fold sees the same segments
# either way, so per-key and sharded runs are bit-identical by
# construction (parity pytests pin both against the batch twins).


def stream_changed(
    df: DataFrame,
    fieldname: str,
    by: Sequence[str],
    time_col: str = "time",
    init=None,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``changed``: emits rows whose ``field`` differs
    (null-safe, matching the batch twin's eqNullSafe) from the previous
    row of the same key. ``init`` is the reference's :init — the value
    each key's first event is compared against (action.clj:334-360).

    The compare is ONE vectorized shift over the slice: only segment
    starts read the carry and only segment ends write it, so the
    Python work is O(keys in batch), not O(rows). The last value
    carries through :func:`_value_codec` (timestamps, dates, decimals,
    binary and intervals included); nested fields (arrays, structs,
    maps) compare and carry as canonical JSON."""
    import json as _json

    import numpy as np
    import pandas as pd

    dtype = dict(df.dtypes)[fieldname]
    nested = dtype.startswith(("array", "struct", "map"))
    if nested:
        def as_json(v):
            return None if v is None else _json.dumps(v, default=_json_cell)

        enc, dec = (lambda v: v), (lambda v: v)
        init = as_json(init)
    else:
        enc, dec = _value_codec(dtype)

    def fold(carry, segs, pdf):
        vals = pdf[fieldname]
        if nested:
            vals = pd.Series([as_json(v) for v in vals.tolist()], dtype=object)
        prev = vals.shift(1)
        first = [dec(carry[k]) if k in carry else init for k in segs.keys]
        if prev.dtype.kind in "fmM":  # NULL as the column's own NA
            na = np.nan if prev.dtype.kind == "f" else pd.NaT
            first = [na if v is None else v for v in first]
        # ONE positional scatter per batch — per-element .iloc writes
        # cost more than the whole fold at 1-row segments
        prev.iloc[segs.starts] = first
        same = (vals == prev) | (vals.isna() & prev.isna())
        for k, v in zip(segs.keys, vals.iloc[segs.ends - 1].tolist()):
            carry[k] = enc(v)
        return pdf[~same.to_numpy(dtype=bool)]

    return _keyed_scan(df, by, time_col, fold, shards)


def stream_throttle(
    df: DataFrame,
    count: int,
    duration_s: float,
    by: Sequence[str],
    time_col: str = "time",
    shards: int | None = None,
) -> DataFrame:
    """Streaming anchored-window throttle (action.clj:1163-1217): per
    key carry (anchor_us, n); exact integer-µs window math like the
    batch twin. The anchored recurrence is inherently sequential, so
    the fold loops over a primitive int list, never per-row dicts."""
    import numpy as np

    dur_us = int(round(duration_s * 1_000_000))

    def fold(carry, segs, pdf):
        tv = _series_us(pdf[time_col]).tolist()
        keep = np.empty(len(tv), dtype=bool)
        for k, s0, e0 in segs:
            anchor, n = carry.get(k, (None, 0))
            for i in range(s0, e0):
                t = tv[i]
                if anchor is None or t >= anchor + dur_us:
                    anchor, n = t, 1
                    keep[i] = True
                elif n < count:
                    n += 1
                    keep[i] = True
                else:
                    keep[i] = False
            carry[k] = (anchor, n)
        return pdf[keep]

    return _keyed_scan(df, by, time_col, fold, shards)


def stream_ewma(
    df: DataFrame,
    r: float,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
    state_ttl_s: float | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ewma-timeless (action.clj:1248-1276): keyed running
    average, identical double recurrence (same fold order) as the
    batch twin. Null metrics pass through as null without touching
    the state. ``state_ttl_s`` evicts idle keys (fork GC; per key it
    is a watermark timeout, so pass a watermarked input).

    A slice holding one key runs the scalar loop. A slice of many keys
    (the sharded layout) is VECTORIZED across keys: step j updates
    every key's j-th event at once with the SAME scalar expression
    ``r*v + (1.0-r)*m`` (numpy float64 scalar ops are IEEE doubles, so
    each key sees the scalar loop's op order — a clean-machine split
    measured the per-row loop at ~62 % of the sharded tier). Keys
    whose run exceeds ``_EWMA_VEC_CAP`` take the scalar loop over
    their rows."""
    import numpy as np
    import pandas as pd

    def fold(carry, segs, pdf):
        vals = pdf[metric_col].to_numpy(dtype="float64", na_value=np.nan)
        out = np.empty(len(vals))
        lens = segs.ends - segs.starts
        vec = (lens <= _EWMA_VEC_CAP) if len(segs.keys) > 1 else np.zeros(1, bool)
        if vec.any():
            keys = [k for k, x in zip(segs.keys, vec.tolist()) if x]
            s_starts, s_lens = segs.starts[vec], lens[vec]
            m0 = [carry.get(k) for k in keys]
            seen = np.array([v is not None for v in m0], dtype=bool)
            m = np.array([0.0 if v is None else v for v in m0], dtype=np.float64)
            # length-descending order → the keys still active at step
            # j are a prefix; total work is Σ lens, no padding
            order = np.argsort(-s_lens, kind="stable")
            s_starts, s_lens, m, seen = s_starts[order], s_lens[order], m[order], seen[order]
            for j in range(int(s_lens[0])):
                a = int(np.searchsorted(-s_lens, -(j + 1), side="right"))
                pos = s_starts[:a] + j
                v = vals[pos]
                real = v == v
                stepped = r * v + (1.0 - r) * m[:a]
                m[:a] = np.where(real, stepped, m[:a])
                out[pos] = np.where(real, stepped, np.nan)
                seen[:a] |= real
            for i in np.flatnonzero(seen).tolist():
                carry[keys[order[i]]] = float(m[i])
        if not vec.all():
            vl = vals.tolist()
            for (k, lo, hi), x in zip(segs, vec.tolist()):
                if x:
                    continue
                m = carry.get(k)
                for i in range(lo, hi):
                    v = vl[i]
                    if v != v:  # null/NaN input → emit null, keep state
                        out[i] = np.nan
                    else:
                        m = r * v + (1.0 - r) * (m if m is not None else 0.0)
                        out[i] = m
                if m is not None:
                    carry[k] = m
        res = pdf.copy()
        # NaN in a float64 column round-trips to SQL NULL via Arrow
        res[metric_col] = pd.array(out, dtype="float64")
        return res

    return _keyed_scan(df, by, time_col, fold, shards, state_ttl_s=state_ttl_s)


def stream_smax(
    df: DataFrame,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
    shards: int | None = None,
) -> DataFrame:
    """Streaming smax (action.clj:2742-2772): per input event emit the
    best-so-far event of its key; strict > keeps the first winner on
    ties. The carry holds the best row (one dict per key, serialized
    once per batch per key); the winner scan walks a primitive float64
    array and the output materializes as two positional gathers
    (batch-sourced winners + carry-sourced re-emits) merged back into
    event order — no per-event dict building.
    :func:`stream_smax_jvm` is the per-batch-grain alternative."""
    import numpy as np
    import pandas as pd

    def fold(carry, segs, pdf):
        n = len(pdf)
        if not n:
            return pdf
        cols = list(pdf.columns)
        raw = _RawCols(pdf)
        v = pdf[metric_col].to_numpy(dtype="float64", na_value=np.nan)
        emit: list = []  # ("b", idx) batch winner | ("o", dict) carried best
        for k, s0, e0 in segs:
            st = carry.get(k)
            if st is None:
                have, best_v, best_ref = False, -np.inf, None
            else:
                have = True
                best_v = -np.inf if st["m"] is None else float(st["m"])
                best_ref = ("o", st["b"])
            for i in range(s0, e0):
                x = v[i]
                if not have or (x == x and x > best_v):
                    best_ref = ("b", i)
                    have = True
                    if x == x:
                        best_v = x
                emit.append(best_ref)
            if best_ref is not None and best_ref[0] == "b":
                i = best_ref[1]
                carry[k] = {
                    "m": None if v[i] != v[i] else float(v[i]),
                    "b": raw.row(cols, i),
                }
        b_pos = [p for p, e in enumerate(emit) if e[0] == "b"]
        o_pos = [p for p, e in enumerate(emit) if e[0] == "o"]
        frames = []
        if b_pos:
            frames.append(pdf.iloc[[emit[p][1] for p in b_pos]])
        if o_pos:
            odf = pd.DataFrame(
                {c: [emit[p][1][c] for p in o_pos] for c in cols}, columns=cols
            )
            frames.append(_revive_datetime_cols(odf, pdf))
        if len(frames) == 1:
            return frames[0]
        out = pd.concat(frames, ignore_index=True)
        # concat row q holds emit position (b_pos+o_pos)[q]; restore
        # event order by sorting rows on that position
        return out.iloc[np.argsort(np.asarray(b_pos + o_pos), kind="stable")]

    return _keyed_scan(df, by, time_col, fold, shards)


def stream_smin(
    df: DataFrame,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
    shards: int | None = None,
) -> DataFrame:
    """Streaming smin (action.clj:2774-2804): smax over the negated
    metric, negated back — nulls pass through (-NULL = NULL)."""
    neg = df.withColumn(metric_col, -F.col(metric_col))
    out = stream_smax(neg, by, time_col, metric_col, shards=shards)
    return out.withColumn(metric_col, -F.col(metric_col))


def stream_cond_dt(
    df: DataFrame,
    cond,
    dt_s: float,
    by: Sequence[str],
    time_col: str = "time",
    shards: int | None = None,
) -> DataFrame:
    """Streaming cond-dt family (action.clj:476-508): per key carry
    (ok, flip_us); valid events pass once the condition has held
    continuously for more than dt seconds.

    ``cond`` accepts the SAME condition vectors as the batch twins
    (``[":>", "metric", 100]`` — compiled by
    :func:`mirabelle_spark.conditions.compile_condition_pandas` and
    evaluated once over the whole slice) or a python row-predicate
    for custom logic (applied row-wise, the slow path). PERF §39
    (sharded): 552k ev/s at 1M keys vs 5.6k per key."""
    import numpy as np

    dt_us = int(round(dt_s * 1_000_000))
    if callable(cond):
        def valid_series(pdf):
            return pdf.apply(cond, axis=1).to_numpy(dtype=bool)
    else:
        from mirabelle_spark.conditions import compile_condition_pandas

        _pred = compile_condition_pandas(cond)

        def valid_series(pdf):
            return _pred(pdf).to_numpy(dtype=bool)

    def fold(carry, segs, pdf):
        tv = _series_us(pdf[time_col]).tolist()
        valid = valid_series(pdf).tolist()
        keep = np.empty(len(tv), dtype=bool)
        for k, s0, e0 in segs:
            ok, flip = carry.get(k, (False, None))
            for i in range(s0, e0):
                t, va = tv[i], valid[i]
                if va and not ok:
                    ok, flip = True, t
                elif not va:
                    ok, flip = False, None
                keep[i] = va and ok and t > flip + dt_us
            carry[k] = (ok, flip)
        return pdf[keep]

    return _keyed_scan(df, by, time_col, fold, shards)


def stream_stable(
    df: DataFrame,
    dt_s: float,
    field: str,
    by: Sequence[str],
    time_col: str = "time",
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``stable`` (action.clj:2053-2138): per key value-run
    state; events pass once their run's ``field`` value has stayed
    identical for more than ``dt`` seconds. The run's early events
    buffer in the carry and flush at confirmation; a value change
    drops an unconfirmed buffer (flap suppression). Out-of-order
    events (time < the key's running max) are dropped, like the
    reference.

    Python work per batch is O(value-runs), not O(rows): run
    boundaries come from one vectorized null-safe shift compare,
    confirmation points from searchsorted, confirmed-run emission
    from slice coalescing (one concat at the end), and only
    UNCONFIRMED rows (the flap buffer, carried as parallel column
    arrays {col: [values]}) pay per-value JSON conversion."""
    import numpy as np
    import pandas as pd

    dt_us = int(round(dt_s * 1_000_000))

    def _eq(a, b):
        if a is None or b is None:
            return a is None and b is None
        if isinstance(a, float) and isinstance(b, float) and a != a and b != b:
            return True
        return a == b

    def _store(v):
        # keep NaN as NaN in the carry: Python json round-trips it and
        # _eq treats NaN==NaN; _native's NaN→None fold would make
        # _eq(nan, None) False and reset the run at every micro-batch
        # boundary (ADVICE r8 #1)
        if isinstance(v, float) and v != v:
            return float(v)
        return _native(v)

    def fold(carry, segs, pdf):
        n = len(pdf)
        if not n:
            return pdf
        t = _series_us(pdf[time_col])
        # out-of-order drop + running-max update per key: each segment
        # is time-sorted, so only rows below the key's STORED max can
        # drop, and the new max is the segment's last timestamp.
        # s = [max_us, has, value, flip_us, confirmed]
        keep = np.ones(n, dtype=bool)
        for k, s0, e0 in segs:
            st = carry.get(k)
            if st is None:
                carry[k] = {"s": [int(t[e0 - 1]), False, None, None, False], "b": None}
                continue
            if st["s"][0] is not None:
                keep[s0:e0] = t[s0:e0] >= st["s"][0]
                st["s"][0] = max(st["s"][0], int(t[e0 - 1]))
            else:
                st["s"][0] = int(t[e0 - 1])
        if not keep.all():
            pdf = pdf[keep].reset_index(drop=True)
            t = t[keep]
            segs = segs.filter(keep)
            n = len(pdf)
            if not n:
                return pdf
        # run boundaries: key change OR null-safe field value change
        fs = pdf[field]
        same_val = (
            fs.eq(fs.shift()) | (fs.isna() & fs.isna().shift(fill_value=False))
        ).to_numpy(dtype=bool)
        same_val[segs.starts] = False
        rstarts = np.flatnonzero(~same_val)
        rends = np.append(rstarts[1:], n)
        run_seg = np.searchsorted(segs.starts, rstarts, side="right") - 1
        vals = fs.tolist()
        cols = list(pdf.columns)
        raw = _RawCols(pdf)

        parts: list = []  # ordered mix of [i, j] slices and DataFrames

        def emit_slice(i, j):
            if parts and isinstance(parts[-1], list) and parts[-1][1] == i:
                parts[-1][1] = j  # coalesce adjacent confirmed slices
            else:
                parts.append([i, j])

        for i, j, si in zip(rstarts.tolist(), rends.tolist(), run_seg.tolist()):
            st = carry[segs.keys[si]]
            s = st["s"]
            v = vals[i]
            if not (s[1] and _eq(v, s[2])):
                # value changed: unconfirmed buffer is dropped
                s[1:5] = [True, _store(v), int(t[i]), False]
                st["b"] = None
            if not s[4]:
                kk = i + int(np.searchsorted(t[i:j], s[3] + dt_us, side="right"))
                if kk == j:  # run not yet stable: buffer the segment
                    if st["b"] is None:
                        st["b"] = {c: [] for c in cols}
                    for c in cols:
                        st["b"][c].extend(raw.slice_native(c, i, j))
                else:  # confirmed at kk: flush buffer + whole run
                    s[4] = True
                    if st["b"] is not None and next(iter(st["b"].values())):
                        bdf = pd.DataFrame({c: st["b"][c] for c in cols}, columns=cols)
                        parts.append(_revive_datetime_cols(bdf, pdf))
                    st["b"] = None
                    emit_slice(i, j)
            else:
                emit_slice(i, j)
        if not parts:
            return pdf.iloc[0:0]
        frames = [pdf.iloc[p[0]:p[1]] if isinstance(p, list) else p for p in parts]
        return frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)

    return _keyed_scan(df, by, time_col, fold, shards)


def stream_fixed_event_window(
    df: DataFrame,
    n: int,
    by: Sequence[str],
    time_col: str = "time",
    fork_ttl_s: float | None = None,
    gc_wall_s: float | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``fixed-event-window`` (action.clj:233-262) with the
    reference's ``:fork-ttl`` semantics (stream_test.clj:331-408): per
    key buffer in the carry; every ``n`` buffered events flush as one
    window row ``(by…, window_start, events)``.

    Eviction is two-layered, matching the reference's by-fork GC:

    - **gap eviction** on the EVENT clock, exactly like the reference
      (action.clj:1575-1600 compares fork times against the incoming
      event's ``:time``): an event arriving more than ``fork_ttl_s``
      after the key's previous event drops the stale partial buffer —
      the window restarts from the newcomer.
    - the reference's GC can also sweep OTHER keys' idle forks when
      one key's event advances the clock; that sweep maps to the
      optional ``gc_wall_s`` state ttl — a memory-bound backstop for
      keys that never speak again. Per key it is a wall-clock timeout
      (a push engine's wall clock tracks its event clock), NOT the
      event-time watermark: a watermark makes Spark drop late rows
      before the operator, which would break the reference's
      out-of-order behavior. Sharded, it is the shell's in-shard
      event-clock eviction.

    Events fold in event-time order within a micro-batch (per-event
    batches degrade gracefully to the reference's arrival order,
    which its out-of-order deftest relies on). The partial window
    carries COLUMNAR ({col: [...]}, ≤ n-1 rows); batch rows are
    referenced by position and serialize at most once."""
    import pandas as pd

    ttl_us = int(round(fork_ttl_s * 1_000_000)) if fork_ttl_s else None
    ts_cols = [c for c, t in df.dtypes if t.startswith("timestamp")]
    key_cols = list(by)

    def fold(carry, segs, pdf):
        cols = list(pdf.columns)
        out_rows: list = []
        raw = _RawCols(pdf)
        t = _series_us(pdf[time_col])
        for k, s0, e0 in segs:
            st = carry.get(k)
            if st is None:
                last_us, buf = None, []
            else:
                last_us, bc = st["l"], st["b"]
                blen = len(next(iter(bc.values()))) if bc else 0
                buf = [{c: bc[c][x] for c in cols} for x in range(blen)]
            keyvals = {c: pdf.iloc[s0][c] for c in key_cols}
            for i in range(s0, e0):
                ti = int(t[i])
                if ttl_us is not None and last_us is not None and ti - last_us > ttl_us:
                    buf = []  # stale fork: GC dropped it before this event
                buf.append(i)
                last_us = ti
                if len(buf) == n:
                    evs = [
                        _revive_ts_fields(e if isinstance(e, dict) else raw.row(cols, e), ts_cols)
                        for e in buf
                    ]
                    first = evs[0][time_col]
                    start = first.timestamp() if hasattr(first, "timestamp") else float(first)
                    out_rows.append({**keyvals, "window_start": start, "events": evs})
                    buf = []
            rest = [e if isinstance(e, dict) else raw.row(cols, e) for e in buf]
            carry[k] = {
                "l": last_us,
                "b": {c: [e[c] for e in rest] for c in cols} if rest else {},
            }
        if not out_rows:
            return None
        return pd.DataFrame(out_rows)

    by_fields = [f for f in df.schema.fields if f.name in by]
    return _keyed_scan(
        df, by, time_col, fold, shards,
        out_schema=f"{_ddl(by_fields)}, window_start double, {_events_col_ddl(df)}",
        state_ttl_s=gc_wall_s, ttl_clock="processing",
    )


def stream_moving_event_window(
    df: DataFrame,
    n: int,
    by: Sequence[str],
    time_col: str = "time",
    gc_wall_s: float | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``moving-event-window`` (action.clj:1219-1246): on
    every event, emit the trailing ``n`` events of its key as an
    ``events`` array — the carried sliding buffer, emitted per row
    like the batch twin's collect_list window. Emission cost is
    O(rows·n) dicts in either layout (the output shape demands it).
    ``gc_wall_s`` bounds state for silent keys (see
    :func:`stream_fixed_event_window`)."""
    ts_cols = [c for c, t in df.dtypes if t.startswith("timestamp")]

    def fold(carry, segs, pdf):
        cols = list(pdf.columns)
        events_col: list = [None] * len(pdf)
        raw = _RawCols(pdf)
        for k, s0, e0 in segs:
            bc = carry.get(k)
            if bc:
                blen = len(next(iter(bc.values())))
                buf = [{c: bc[c][x] for c in cols} for x in range(blen)]
            else:
                buf = []
            for i in range(s0, e0):
                buf.append(raw.row(cols, i))
                buf = buf[-n:]
                events_col[i] = [_revive_ts_fields(e, ts_cols) for e in buf]
            carry[k] = {c: [e[c] for e in buf] for c in cols} if buf else {}
        out = pdf.copy()
        out["events"] = events_col
        return out

    return _keyed_scan(
        df, by, time_col, fold, shards, extra_out=_events_col_ddl(df),
        state_ttl_s=gc_wall_s, ttl_clock="processing",
    )


def stream_moving_time_window(
    df: DataFrame,
    duration_s: float,
    by: Sequence[str],
    time_col: str = "time",
    gc_wall_s: float | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``moving-time-window`` (action.clj:2596-2639): per
    event, all of its key's events within the trailing ``duration``
    seconds — a carried buffer of ``[t_us, row]`` trimmed by exact µs
    bound (same (-(dur-1µs), 0] range as the batch twin's range
    frame). ``gc_wall_s`` as in :func:`stream_fixed_event_window`."""
    dur_us = int(round(duration_s * 1_000_000))
    ts_cols = [c for c, t in df.dtypes if t.startswith("timestamp")]

    def fold(carry, segs, pdf):
        cols = list(pdf.columns)
        events_col: list = [None] * len(pdf)
        raw = _RawCols(pdf)
        t = _series_us(pdf[time_col])
        for k, s0, e0 in segs:
            buf = carry.get(k, [])
            for i in range(s0, e0):
                ti = int(t[i])
                buf.append((ti, raw.row(cols, i)))
                lo = ti - dur_us + 1
                buf = [(tb, e) for tb, e in buf if tb >= lo]
                events_col[i] = [_revive_ts_fields(e, ts_cols) for _, e in buf]
            carry[k] = buf
        out = pdf.copy()
        out["events"] = events_col
        return out

    return _keyed_scan(
        df, by, time_col, fold, shards, extra_out=_events_col_ddl(df),
        state_ttl_s=gc_wall_s, ttl_clock="processing",
    )


def stream_ddt(
    df: DataFrame,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
    remove_neg: bool = False,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ddt/ddt-pos (action.clj:1041-1083): the carry holds
    each key's previous (t_us, metric); the derivative is one
    vectorized diff over the slice with the previous sample injected
    at segment starts only — O(keys) Python, O(rows) numpy. Null-metric
    events are dropped before the shift, so they never become the
    previous sample; a zero time delta is skipped."""
    import numpy as np

    def fold(carry, segs, pdf):
        keepna = pdf[metric_col].notna().to_numpy(dtype=bool)
        if not keepna.all():
            pdf = pdf[keepna].reset_index(drop=True)
            segs = segs.filter(keepna)
        n = len(pdf)
        if not n:
            return None
        t = _series_us(pdf[time_col]).astype("float64")
        m = pdf[metric_col].to_numpy(dtype="float64")
        prev_t = np.concatenate(([np.nan], t[:-1]))
        prev_m = np.concatenate(([np.nan], m[:-1]))
        for k, s0, _ in segs:
            last = carry.get(k)
            prev_t[s0], prev_m[s0] = (
                (np.nan, np.nan) if last is None else (float(last[0]), float(last[1]))
            )
        dt = (t - prev_t) / 1_000_000.0
        with np.errstate(divide="ignore", invalid="ignore"):
            diff = (m - prev_m) / dt
        ok = np.isfinite(diff)
        if remove_neg:
            ok &= diff >= 0
        for k, _, e0 in segs:
            carry[k] = (int(t[e0 - 1]), float(m[e0 - 1]))
        out = pdf[ok].copy()
        out[metric_col] = diff[ok]
        return out

    return _keyed_scan(df, by, time_col, fold, shards)


def stream_coalesce(
    df: DataFrame,
    duration_s: float,
    fields: Sequence[str],
    by: Sequence[str] = (),
    time_col: str = "time",
    ttl_col: str = "ttl",
    state_col: str = "state",
    default_ttl_s: float = 120.0,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``coalesce`` (action.clj:721-791): keep the latest
    event per ``fields`` tuple; every ``duration`` seconds of EVENT
    time (the tick clock is the key's running max event time, not
    wall time), flush all kept non-expired events. Expiry follows
    event.clj:12-19: state == "expired" or age > ttl (default 120 s).

    The per-event loop touches only scalars/tuples (tick clock, dict
    upsert, expiry compare): each key's buffer carries COLUMNAR and
    batch rows are referenced by POSITION until the end of the batch,
    so JSON conversion happens once per batch for the rows still
    buffered at its end, and emission is two positional gathers
    (batch-sourced + carry-sourced) merged back into flush order.
    Coalesce is an alert-volume operator (one row per service×host
    per tick), never a data-plane scan. Unkeyed, it is the reference's
    single global coalesce: one tick clock, one state group (``shards``
    does not apply)."""
    import json as _json

    import numpy as np
    import pandas as pd

    dur_us = int(round(duration_s * 1_000_000))
    default_ttl_us = int(round(default_ttl_s * 1_000_000))
    has_ttl_col = ttl_col in df.columns
    has_state_col = state_col in df.columns

    def fold(carry, segs, pdf):
        t = _series_us(pdf[time_col])
        null_t = pdf[time_col].isna().to_numpy(dtype=bool)
        cols = list(pdf.columns)
        f_arrs = [pdf[f].tolist() for f in fields]
        st_arr = pdf[state_col].tolist() if has_state_col else None
        ttl_arr = (
            pdf[ttl_col].to_numpy(dtype="float64", na_value=np.nan)
            if has_ttl_col
            else None
        )

        def batch_expired(i, ti, ct):
            if st_arr is not None and st_arr[i] == "expired":
                return True
            ttl_us = default_ttl_us
            if ttl_arr is not None and ttl_arr[i] == ttl_arr[i]:
                ttl_us = int(round(float(ttl_arr[i]) * 1_000_000))
            return ct - ti > ttl_us

        def old_expired(store, idx, ti, ct):
            if has_state_col and store[state_col][idx] == "expired":
                return True
            ttl_us = default_ttl_us
            if has_ttl_col and store[ttl_col][idx] is not None:
                ttl_us = int(round(float(store[ttl_col][idx]) * 1_000_000))
            return ct - ti > ttl_us

        raw = _RawCols(pdf)
        emit: list = []  # (src 0=batch/1=carried, row idx, carried store)
        for k, s0, e0 in segs:
            c = carry.get(k)
            if c is None:
                ct, lt, buf, store = 0, None, {}, None
            else:
                # buf: fields tuple -> [src, idx, t_us]
                ct, lt, store = c["ct"], c["lt"], c["bc"]
                buf = {fk: [1, x, c["bt"][x]] for x, fk in enumerate(c["bf"])}
            for i in range(s0, e0):
                if null_t[i]:
                    continue
                ti = int(t[i])
                ct = max(ct, ti)
                if batch_expired(i, ti, ct):
                    continue
                # _cell_native, not _native: a timestamp-typed fields
                # column must isoformat (raw pd.Timestamp is not
                # JSON-serializable, ADVICE r8 #2)
                ftk = _json.dumps([_cell_native(a[i]) for a in f_arrs])
                ent = buf.get(ftk)
                # e/most-recent?: the stored event wins ties
                if ent is None or ent[2] < ti:
                    buf[ftk] = [0, i, ti]
                if lt is None:
                    lt = ti
                elif ct >= lt + dur_us:
                    alive = {}
                    for fk, e in buf.items():
                        if e[0] == 0:
                            dead = batch_expired(e[1], e[2], ct)
                        else:
                            dead = old_expired(store, e[1], e[2], ct)
                        if not dead:
                            alive[fk] = e
                            emit.append((e[0], e[1], store))
                    buf = alive
                    lt = ct
            # rebuild the key's carry: surviving buffer rows go
            # columnar (batch-sourced rows pay JSON conversion HERE)
            bc: dict = {col: [] for col in cols}
            for e in buf.values():
                for col in cols:
                    bc[col].append(raw.cell(col, e[1]) if e[0] == 0 else store[col][e[1]])
            carry[k] = {"ct": ct, "lt": lt, "bf": list(buf),
                        "bt": [e[2] for e in buf.values()], "bc": bc}
        if not emit:
            return None
        b_pos = [p for p, e in enumerate(emit) if e[0] == 0]
        o_pos = [p for p, e in enumerate(emit) if e[0] == 1]
        frames = []
        if b_pos:
            frames.append(pdf.iloc[[emit[p][1] for p in b_pos]])
        if o_pos:
            odf = pd.DataFrame(
                {c: [emit[p][2][c][emit[p][1]] for p in o_pos] for c in cols},
                columns=cols,
            )
            frames.append(_revive_datetime_cols(odf, pdf))
        if len(frames) == 1:
            return frames[0]
        out = pd.concat(frames, ignore_index=True)
        # concat row q holds emit position (b_pos+o_pos)[q]; restore
        # flush order by sorting rows on that position
        return out.iloc[np.argsort(np.asarray(b_pos + o_pos), kind="stable")]

    if not by:
        # single global coalesce (the reference's unkeyed form): one
        # synthetic key, one state group, whatever ``shards`` says.
        # Alert-rate traffic; supply `by` to spread it.
        keyed = df.withColumn("__g__", F.lit(0))
        out = _keyed_scan(keyed, ["__g__"], time_col, fold)
        return out.drop("__g__")
    return _keyed_scan(df, by, time_col, fold, shards)


def stream_expired(
    df: DataFrame,
    by: Sequence[str],
    time_col: str = "time",
    ttl_col: str | None = "ttl",
    state_col: str | None = "state",
    keep_expired: bool = True,
    shards: int | None = None,
) -> DataFrame:
    """Streaming ``expired``/``not-expired`` (action.clj:427-474): the
    stream clock is the running max event time PER KEY (the
    reference's clock is per-stream; a key's fork owns its clock
    downstream of `by`), carried per key; expiry follows
    event.clj:12-19 (state == "expired" or age > coalesce(ttl, 120)).
    Each segment's accumulate seeds from the carry and writes its
    last clock back; the rest is one vectorized pass."""
    import numpy as np

    has_ttl = ttl_col is not None and ttl_col in df.columns
    has_state = state_col is not None and state_col in df.columns

    def fold(carry, segs, pdf):
        has_time = pdf[time_col].notna().to_numpy(dtype=bool)
        t = _series_us(pdf[time_col]).astype("float64")
        t = np.where(has_time, t, -np.inf)  # null time: no age, no clock
        run = np.empty(len(t), dtype="float64")
        for k, s0, e0 in segs:
            seg = np.maximum.accumulate(t[s0:e0])
            mx = carry.get(k)
            if mx is not None:
                seg = np.maximum(seg, float(mx))
            run[s0:e0] = seg
            fin = seg[np.isfinite(seg)]
            if len(fin):
                carry[k] = float(fin[-1])
        age_s = (run - t) / 1_000_000.0
        if has_ttl:
            ttl = pdf[ttl_col].astype("float64").fillna(120.0).to_numpy()
        else:
            ttl = np.full(len(t), 120.0)
        # null time ⇒ not expired-by-age (batch twin's null-safe rule)
        exp = (age_s > ttl) & has_time
        if has_state:
            exp |= (pdf[state_col] == "expired").to_numpy(dtype=bool)
        return pdf[exp if keep_expired else ~exp]

    return _keyed_scan(df, by, time_col, fold, shards)


# The zscore fold keeps Decimal moments under this precision (a
# DECIMAL(38,9) term has up to 38 significant digits; 60 keeps the
# running sums exact past ~1e21 such terms — the default context's
# 28 would silently round sums AND raise InvalidOperation quantizing
# m*m for |metric| >= ~3.2e9).
_ZSCORE_PREC = 60


def _zscore_q9(x: float):
    """Spark's non-ANSI double -> DECIMAL(38,9) cast: shortest-repr
    HALF_UP rounding at scale 9; values past 38 total digits
    (|q| >= 1e29) overflow to NULL (None) — the windowed SUM skips
    the term while COUNT still sees the row. (The batch twin runs
    under this session's ANSI mode and *raises* on such inputs, so
    bit-exact parity on every input the batch accepts is unaffected;
    the streaming twin degrades per the non-ANSI cast instead of
    crashing the query.) Call under a localcontext with
    prec >= _ZSCORE_PREC.

    The magnitude gate runs BEFORE the quantize: a double can reach
    ~1.8e308 (and m*m arrives here too), whose scale-9 quantize needs
    ~317 digits — InvalidOperation at any reasonable prec. |x| < 1e29
    (incl. every in-range double: ≤17 significant digits + 9 scale =
    ≤38 ≤ prec) is the only region that reaches Decimal; it also
    screens inf. Doubles near 1e29 are ~1.6e13 apart, so no in-range
    value can round UP across the bound at scale 9 — the belt-and-
    braces adjusted() check never fires, but keeps the invariant
    local."""
    from decimal import ROUND_HALF_UP, Decimal

    if not (-1e29 < x < 1e29):
        return None
    q = Decimal(repr(x)).quantize(Decimal("0.000000001"), rounding=ROUND_HALF_UP)
    return None if q.adjusted() >= 29 else q


def stream_zscore(
    df: DataFrame,
    window_s: float,
    by: Sequence[str],
    time_col: str = "time",
    metric_col: str = "metric",
    min_n: int = 2,
    out: str = "zscore",
    state_ttl_s: float | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Streaming twin of :func:`mirabelle_spark.operators.stateful.zscore`:
    per event, the metric's deviation from the trailing ``window_s``
    seconds of its key, in standard deviations.

    Exactness: the carry holds the trailing window as
    ``(t_us, q1, q2)`` triples plus running DECIMAL(38,9) sums, where
    ``q1``/``q2`` are the metric and its double-squared value rounded
    HALF_UP at scale 9 from the shortest decimal representation —
    the same rule Spark's double→decimal cast applies in the batch
    twin's range frame. Decimal add/subtract is exact, so the sums
    after any insert/evict sequence equal the batch window's sums,
    and the double-space mean/variance/z arithmetic replays the
    batch expression op-for-op: parity is bit-identical on in-order
    input (the window is the arrival-order prefix — a same-timestamp
    peer arriving later is not retroactively included, the standard
    trade of every streaming twin here, cf. stream_moving_time_window).

    Cost: O(1) amortized per event (append + evict, two decimal
    adds/subs); state is bounded by events-per-window per key.
    ``state_ttl_s`` evicts idle keys (fork GC; per key on the wall
    clock)."""
    import math
    from decimal import Decimal, localcontext

    import numpy as np
    import pandas as pd

    win_us = int(round(window_s * 1_000_000))

    def load(st):
        if st is None:
            return [], Decimal(0), Decimal(0), 0, 0
        buf = [
            (tt, None if a is None else Decimal(a), None if b is None else Decimal(b))
            for tt, a, b in st["b"]
        ]
        # pre-r8 carries had no term counters: every stored term was
        # non-NULL then, so recount from the buffer
        c1 = st.get("c1", sum(1 for e in buf if e[1] is not None))
        c2 = st.get("c2", sum(1 for e in buf if e[2] is not None))
        return buf, Decimal(st["s1"]), Decimal(st["s2"]), c1, c2

    def fold(carry, segs, pdf):
        t = _series_us(pdf[time_col]).tolist()
        vals = pdf[metric_col].to_numpy(dtype="float64", na_value=np.nan).tolist()
        zs = np.full(len(t), np.nan)
        with localcontext() as ctx:
            ctx.prec = _ZSCORE_PREC
            for k, s0, e0 in segs:
                buf, s1, s2, c1, c2 = load(carry.get(k))
                for i in range(s0, e0):
                    ti, v = t[i], vals[i]
                    m = 0.0 if v != v else v
                    q1, q2 = _zscore_q9(m), _zscore_q9(m * m)
                    buf.append((ti, q1, q2))
                    if q1 is not None:
                        s1 += q1
                        c1 += 1
                    if q2 is not None:
                        s2 += q2
                        c2 += 1
                    lo = ti - win_us
                    drop = 0
                    for tt, a, b in buf:
                        if tt >= lo:
                            break
                        if a is not None:
                            s1 -= a
                            c1 -= 1
                        if b is not None:
                            s2 -= b
                            c2 -= 1
                        drop += 1
                    if drop:
                        del buf[:drop]
                    n = len(buf)
                    if n >= min_n and v == v and c1 and c2:
                        nd = float(n)
                        mean = float(s1) / nd
                        var = max(float(s2) / nd - mean * mean, 0.0)
                        if var > 0.0:
                            zs[i] = (v - mean) / math.sqrt(var)
                carry[k] = {
                    "b": [
                        [tt, None if a is None else str(a), None if b is None else str(b)]
                        for tt, a, b in buf
                    ],
                    "s1": str(s1), "s2": str(s2), "c1": c1, "c2": c2,
                }
        res = pdf.copy()
        res[out] = pd.array(zs, dtype="float64")
        return res

    return _keyed_scan(
        df, by, time_col, fold, shards, extra_out=f"{out} double",
        state_ttl_s=state_ttl_s, ttl_clock="processing",
    )
