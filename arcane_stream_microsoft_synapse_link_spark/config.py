"""Stream-spec ingestion: reference-shaped JSON → StreamSpec.

The reference receives its whole job config as one serialized JSON document
in the ``STREAMCONTEXT__SPEC`` env var (dev.env.example:39;
stream-context-serialized-example.json), plus ``STREAMCONTEXT__BACKFILL``
and ``STREAMCONTEXT__BACKFILL_ID`` toggles (StreamRunner.scala:178-179,
202-203). This module accepts that exact document shape and maps the
engine-meaningful knobs onto :class:`StreamSpec`; Kubernetes/Trino/Iceberg-
catalog blocks that have no Spark equivalent are ignored (the SparkSession
and its catalog replace them).  ``source.bufferingSettings`` (B20
read-ahead) is accepted and ignored too: a tick parses its whole admitted
range in one job before its first group merges, so nothing is left to
read ahead.
"""

from __future__ import annotations

import json
import os
import re

from .operators.retry import RetryPolicy
from .streaming.runner import StreamSpec

_DURATION_UNITS = {
    "millisecond": 0.001,
    "milliseconds": 0.001,
    "second": 1.0,
    "seconds": 1.0,
    "minute": 60.0,
    "minutes": 60.0,
    "hour": 3600.0,
    "hours": 3600.0,
}


def parse_duration_s(text: str | float | int | None, default: float = 0.0) -> float:
    """Reference duration strings: ``"5 second"``, ``"100 millisecond"``."""
    if text is None:
        return default
    if isinstance(text, (int, float)):
        return float(text)
    m = re.fullmatch(r"\s*([\d.]+)\s*([a-zA-Z]+)\s*", text)
    if not m or m.group(2).lower() not in _DURATION_UNITS:
        raise ValueError(f"unparseable duration: {text!r}")
    return float(m.group(1)) * _DURATION_UNITS[m.group(2).lower()]


def parse_size_mb(text: str | int | None, default: int = 100) -> int:
    """Reference size strings: ``"512MB"``, ``"1GB"``."""
    if text is None:
        return default
    if isinstance(text, int):
        return text
    m = re.fullmatch(r"\s*(\d+)\s*(MB|GB|KB)\s*", text, re.IGNORECASE)
    if not m:
        raise ValueError(f"unparseable size: {text!r}")
    mult = {"KB": 1 / 1024, "MB": 1, "GB": 1024}[m.group(2).upper()]
    return max(int(int(m.group(1)) * mult), 1)


_PART_EXPR_RE = re.compile(
    r"\s*(bucket|year|month|day|hour)\s*\(\s*([A-Za-z0-9_]+)\s*(?:,\s*(\d+))?\s*\)\s*$",
    re.IGNORECASE,
)


def parse_partition_expressions(
    exprs,
) -> tuple[str, int, tuple[tuple[str, str], ...]]:
    """Reference ``targetTableProperties.partitionExpressions``
    (docs/crd.md:202-233): Iceberg-style transforms ``bucket(col, N)``,
    ``year/month/day/hour(col)``, or a bare column (identity). Returns
    (bucket_key, bucket_count, ((kind, col), ...)); at most one bucket
    transform is honored (it keys the incremental-merge layout)."""
    bucket_key, bucket_count = "arcane_merge_key", 0
    transforms: list[tuple[str, str]] = []
    for e in exprs or ():
        text = str(e)
        m = _PART_EXPR_RE.match(text)
        if m:
            kind, col, n = m.group(1).lower(), m.group(2), m.group(3)
            if kind == "bucket":
                if not n:
                    raise ValueError(f"bucket() needs a count: {text!r}")
                bucket_key, bucket_count = col, int(n)
            else:
                transforms.append((kind, col))
        elif re.fullmatch(r"\s*[A-Za-z0-9_]+\s*", text):
            transforms.append(("identity", text.strip()))
        else:
            raise ValueError(f"unparseable partition expression: {text!r}")
    return bucket_key, bucket_count, tuple(transforms)


def _tagged_union(d: dict | None, default: str) -> str:
    """Reference unions are single-key objects: {"never": {}} → "never"."""
    if not d:
        return default
    return next(iter(d.keys()), default)


def _memory_bound_kwargs(shaper_impl: dict) -> dict:
    """shaperImpl: {"memoryBound": {...}} → B19 StreamSpec kwargs."""
    mb = (shaper_impl or {}).get("memoryBound")
    if mb is None:
        return {}
    return {
        "shaper_impl": "memory_bound",
        "chunk_cost_scale": float(mb.get("chunkCostScale", 4.0)),
        "chunk_cost_max": float(mb.get("chunkCostMax", 0.5)),
        "table_row_count_weight": float(mb.get("tableRowCountWeight", 0.0)),
        "table_size_weight": float(mb.get("tableSizeWeight", 1.0)),
        "table_size_scale_factor": float(mb.get("tableSizeScaleFactor", 0.5)),
        "fallback_string_size": int(mb.get("fallbackStringTypeSizeEstimate", 64)),
        "object_size": int(mb.get("objectTypeSizeEstimate", 256)),
    }


def spec_from_dict(doc: dict, *, target_root: str | None = None) -> StreamSpec:
    src = doc.get("source", {})
    cfg = src.get("configuration", {})
    rule = src.get("fieldSelectionRule", {}).get("rule", {"all": {}})
    mode = _tagged_union(rule, "all")
    fields: tuple[str, ...] = ()
    if mode in ("include", "exclude"):
        fields = tuple(rule.get(mode, {}).get("fields", ()) or ())

    stream_mode = doc.get("streamMode", {})
    cc = stream_mode.get("changeCapture", {})
    bf = stream_mode.get("backfill", {})

    sink = doc.get("sink", {})
    msc = sink.get("mergeServiceClient", {})
    retry = RetryPolicy(
        mode=_tagged_union(msc.get("queryRetryMode"), "never"),
        max_attempts=int(msc.get("queryRetryMaxAttempts", 3)),
        base_duration_s=parse_duration_s(msc.get("queryRetryBaseDuration"), 1.0),
        scale_factor=float(msc.get("queryRetryScaleFactor", 3.0)),
        on_message_contents=tuple(msc.get("queryRetryOnMessageContents", ()) or ()),
    )

    maint = sink.get("maintenanceSettings", {})
    throughput = doc.get("throughput", {})
    props = sink.get("targetTableProperties", {})
    part_key, part_buckets, part_transforms = parse_partition_expressions(
        props.get("partitionExpressions")
    )

    return StreamSpec(
        entity_name=cfg.get("entityName", ""),
        source_root=cfg.get("baseLocation", ""),
        target_root=target_root or sink.get("targetTableFullName", "").replace(".", "/"),
        field_selection_mode=mode,
        fields=fields,
        essential_fields=tuple(
            str(f).lower()
            for f in (src.get("fieldSelectionRule", {}).get("essentialFields", ()) or ())
        ),
        change_capture_interval_s=parse_duration_s(cc.get("changeCaptureInterval"), 300.0),
        change_capture_jitter_variance=float(cc.get("changeCaptureJitterVariance", 0.0)),
        change_capture_jitter_seed=cc.get("changeCaptureJitterSeed"),
        backfill_start=bf.get("backfillStartDate"),
        backfill_behavior=bf.get("backfillBehavior", "Overwrite"),
        optimize_batch_threshold=int(
            maint.get("targetOptimizeSettings", {}).get("batchThreshold", 60)
        ),
        optimize_file_size_mb=parse_size_mb(
            maint.get("targetOptimizeSettings", {}).get("fileSizeThreshold"), 100
        ),
        analyze_batch_threshold=int(
            maint.get("targetAnalyzeSettings", {}).get("batchThreshold", 180)
        ),
        analyze_included_columns=tuple(
            maint.get("targetAnalyzeSettings", {}).get("includedColumns", ()) or ()
        ),
        max_folders_per_tick=int(throughput.get("advisedChunkSize", 0) or 0),
        # B6 grouping (docs/crd.md:35-43) + B18 static shaper
        # (crd-microsoft-synapse.yaml:320-360, shaperImpl: static)
        rows_per_group=int(doc.get("rowsPerGroup", 0) or 0),
        grouping_interval_s=float(doc.get("groupingIntervalSeconds", 0) or 0),
        advised_rate=(throughput.get("advisedRate") or None)
        if "static" in (throughput.get("shaperImpl", {"static": None}) or {})
        else None,
        advised_burst=int(throughput.get("advisedBurst", 0) or 0),
        # B19 memoryBound shaper variant (crd-microsoft-synapse.yaml:361-393)
        **_memory_bound_kwargs(throughput.get("shaperImpl") or {}),
        retry=retry,
        target_sorted_by=tuple(props.get("sortedBy", ()) or ()),
        target_bloom_filter_columns=tuple(props.get("parquetBloomFilterColumns", ()) or ()),
        bucket_key=part_key,
        bucket_count=part_buckets,
        target_partition_transforms=part_transforms,
        is_unified_schema=bool(
            doc.get("staging", {}).get("table", {}).get("isUnifiedSchema", False)
        ),
        max_rows_per_file=int(
            doc.get("staging", {}).get("table", {}).get("maxRowsPerFile", 0) or 0
        ),
        metric_tags=tuple(
            sorted((str(k), str(v)) for k, v in
                   (doc.get("observability", {}).get("metricTags", {}) or {}).items())
        ),
        # DataDog.UdsPublisher analog: explicit statsd address, or the
        # sidecar's datagram socket path (DatagramSocketConfig)
        statsd_address=(
            doc.get("observability", {}).get("statsdAddress")
            or (
                f"uds:{doc['observability']['datadogSocketPath']}"
                if doc.get("observability", {}).get("datadogSocketPath")
                else None
            )
        ),
    )


def spec_from_json(text: str, *, target_root: str | None = None) -> StreamSpec:
    return spec_from_dict(json.loads(text), target_root=target_root)


def spec_from_env(env: dict[str, str] | None = None) -> tuple[StreamSpec, bool, str | None]:
    """(spec, is_backfill, backfill_id) from the reference's env contract."""
    env = env if env is not None else dict(os.environ)
    raw = env.get("STREAMCONTEXT__SPEC")
    if not raw:
        raise KeyError("STREAMCONTEXT__SPEC is not set")
    spec = spec_from_json(raw, target_root=env.get("STREAMCONTEXT__TARGET_ROOT"))
    is_backfill = env.get("STREAMCONTEXT__BACKFILL", "").lower() == "true"
    return spec, is_backfill, env.get("STREAMCONTEXT__BACKFILL_ID")
