"""Structured Streaming: keyed-state twins of the batch stateful
operators, sources, sinks and the control plane. Windowed aggregates
need no twin — the batch functions in ``operators.aggregations`` and
``operators.windows`` take streaming input directly."""

from mirabelle_spark.streaming.core import (  # noqa: F401
    file_source,
    rate_source,
    stream_changed,
    stream_coalesce,
    stream_cond_dt,
    stream_ddt,
    stream_dedup,
    stream_ewma,
    stream_expired,
    stream_fixed_event_window,
    stream_moving_event_window,
    stream_moving_time_window,
    stream_smax,
    stream_smax_jvm,
    stream_smin,
    stream_smin_jvm,
    stream_stable,
    stream_throttle,
    stream_zscore,
    reinject_sink,
    reinject_source,
    to_console,
    to_json_files,
    to_memory,
)
from mirabelle_spark.streaming.http_api import (  # noqa: F401
    StreamApi,
    config_from_b64,
    config_to_b64,
)
from mirabelle_spark.streaming.metrics import (  # noqa: F401
    StreamMetricsListener,
)
from mirabelle_spark.streaming.lifecycle import (  # noqa: F401
    StreamHandler,
    diff_config,
)
from mirabelle_spark.streaming.tcp import (  # noqa: F401
    RiemannTcpServer,
)
from mirabelle_spark.streaming.websocket import (  # noqa: F401
    WebSocketPubSub,
)
