"""Filename-template engine.

Implements the reference's ``{{variable:param=value}}`` object-naming template
(spec ``README.md:50-95``; validation pinned by ``S3SinkConfigTest.java:786-807``;
deprecated ``unit=YYYY`` rewrite per ``S3SinkConfig.java:143-174``; old-path vars
``utc_date``/``local_date`` per ``S3SinkConfig.java:846-863``).

Spark-first design: the rendered filename is a **Column expression** built from
``concat`` of literals and variable renderings, so "record grouping" is an ordinary
``groupBy(filename)`` that Catalyst plans as one hash shuffle — there is no
driver-side map of filename → record list (contrast ``S3SinkTask.java:117``).
At 100 TB this matters: the group key is computed map-side, partial aggregation
applies, and AQE can coalesce or split skewed groups.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import Enum

from pyspark.sql import Column
from pyspark.sql import functions as F


class TemplateError(ValueError):
    """Raised for an unparsable template or unsupported variable set."""


def ensure_utc_session(spark) -> None:
    """Pin ``spark.sql.session.timeZone`` to UTC.

    Template timestamp rendering shifts the instant with ``from_utc_timestamp``
    and then formats with ``date_format``, which renders in the SESSION
    timezone — a non-UTC session would double-shift ``{{timestamp}}`` /
    ``local_date``. Called at every engine entry point that renders templates
    (batch writer, streaming pipeline); runtime-settable, so it never requires
    a session restart."""
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


class GrouperType(Enum):
    """Grouping mode resolved from the template's variable set
    (``RecordGrouperFactory.resolveRecordGrouperType`` use at ``S3SinkConfig.java:730-737``)."""

    TOPIC_PARTITION = "topic_partition"
    TOPIC_PARTITION_TIMESTAMP = "topic_partition_timestamp"
    KEY = "key"


_VAR_RE = re.compile(r"\{\{\s*([a-zA-Z_]+)(?::([a-zA-Z_]+)=([a-zA-Z0-9|]+))?\s*\}\}")

_SUPPORTED_PARAMS = {
    "topic": {},
    "partition": {"padding": {"true", "false"}},
    "start_offset": {"padding": {"true", "false"}},
    "timestamp": {"unit": {"yyyy", "MM", "dd", "HH"}},
    "key": {},
    # deprecated old-path variables, kept for compatibility
    "utc_date": {},
    "local_date": {},
}

_UNSUPPORTED_SET_MSG = (
    "unsupported set of template variables, supported sets are: "
    "topic,partition,start_offset[,timestamp] | key"
)


@dataclass(frozen=True)
class TemplatePart:
    """Either a literal run of text or a variable occurrence."""

    literal: str | None = None
    variable: str | None = None
    param: str | None = None
    value: str | None = None


class FilenameTemplate:
    """Parsed filename template with Spark-expression rendering."""

    def __init__(self, template: str) -> None:
        # NOTE: no YYYY→yyyy rewrite here — the reference applies that rewrite
        # only to the PREFIX property (preprocessProperties,
        # S3SinkConfig.java:143-174) and REJECTS uppercase YYYY in
        # file.name.template (S3SinkConfigTest.java:786-807).
        self.raw = template
        self.parts: list[TemplatePart] = []
        pos = 0
        for m in _VAR_RE.finditer(template):
            if m.start() > pos:
                self.parts.append(TemplatePart(literal=template[pos : m.start()]))
            var, param, value = m.group(1), m.group(2), m.group(3)
            if var not in _SUPPORTED_PARAMS:
                raise TemplateError(f"unsupported template variable {var!r} in {template!r}")
            if param is not None:
                allowed = _SUPPORTED_PARAMS[var]
                if param not in allowed or value not in allowed[param]:
                    raise TemplateError(
                        f"unsupported parameter {param}={value} for variable {var!r}: "
                        f"supported are {allowed}"
                    )
            self.parts.append(TemplatePart(variable=var, param=param, value=value))
            pos = m.end()
        if pos < len(template):
            self.parts.append(TemplatePart(literal=template[pos:]))
        if re.search(r"\{\{", "".join(p.literal or "" for p in self.parts)):
            raise TemplateError(f"unparsable template {template!r}")
        self.variables = {p.variable for p in self.parts if p.variable}
        self.grouper_type = self._resolve_grouper_type()

    # -- grouper resolution ----------------------------------------------
    def _resolve_grouper_type(self) -> GrouperType:
        core = self.variables - {"utc_date", "local_date"}
        if core == {"key"}:
            return GrouperType.KEY
        if {"topic", "partition", "start_offset"} <= core and core <= {
            "topic",
            "partition",
            "start_offset",
            "timestamp",
        }:
            if "timestamp" in core:
                return GrouperType.TOPIC_PARTITION_TIMESTAMP
            return GrouperType.TOPIC_PARTITION
        raise TemplateError(_UNSUPPORTED_SET_MSG + f" ({sorted(core)} given)")

    # -- Spark-side rendering --------------------------------------------
    def filename_column(
        self,
        start_offset: Column | None = None,
        clock: Column | None = None,
        timezone: str = "UTC",
        prefix: str = "",
        extension: str = "",
    ) -> Column:
        """Full object name as a Column (concat of literals + rendered variables).

        ``start_offset`` is the per-group first offset (``min(offset)`` — computed by
        the caller's aggregation); ``clock`` injects a deterministic timestamp for
        tests (the reference's wallclock races midnight, IntegrationTest.java:246-258).
        """
        ts = clock if clock is not None else F.current_timestamp()
        off = start_offset if start_offset is not None else F.col("offset")
        rendered: list[Column] = [F.lit(prefix)] if prefix else []
        for p in self.parts:
            if p.literal is not None:
                rendered.append(F.lit(p.literal))
                continue
            rendered.append(_render_variable(p, off, ts, timezone))
        if extension:
            rendered.append(F.lit(extension))
        return F.concat(*rendered) if len(rendered) > 1 else rendered[0]

    # -- inverse: object name → grouping variables -----------------------
    def parse_pattern(
        self, prefix: str = "", extension: str = ""
    ) -> tuple[str, dict[str, int]]:
        """Anchored Java-regex that inverts ``filename_column``, plus a map of
        template variable → capture-group index (first occurrence per
        variable). Drives the read-back source's recovery of
        (topic, partition, start_offset) from object names — the reference
        encodes the flush's grouping ONLY in the name
        (``S3SinkTask.java:121-144``), so re-ingestion must parse it back.

        ``topic``/``key`` match greedily (``.+``); numeric neighbours and
        literal separators pin their extent, so a topic containing the
        separator character still parses (greedy backtracking yields the
        longest topic consistent with the trailing groups — the same
        ambiguity rule a human reading the name would apply)."""
        var_rx = {
            "topic": r"(.+)",
            "key": r"(.+)",
            "utc_date": r"(\d{4}-\d{2}-\d{2})",
            "local_date": r"(\d{4}-\d{2}-\d{2})",
        }
        out: list[str] = [re.escape(prefix)] if prefix else []
        groups: dict[str, int] = {}
        gidx = 0
        for p in self.parts:
            if p.literal is not None:
                out.append(re.escape(p.literal))
                continue
            padded = p.param == "padding" and p.value == "true"
            if p.variable == "partition":
                rx = r"(\d{10})" if padded else r"(\d+)"
            elif p.variable == "start_offset":
                rx = r"(\d{20})" if padded else r"(\d+)"
            elif p.variable == "timestamp":
                rx = r"(\d{4})" if p.value == "yyyy" else r"(\d{2})"
            else:
                rx = var_rx[p.variable]
            gidx += 1
            groups.setdefault(p.variable, gidx)
            out.append(rx)
        if extension:
            out.append(re.escape(extension))
        return "^" + "".join(out) + "$", groups

    # -- pure-Python rendering (config-time validation / unit tests) -----
    def render(
        self,
        topic: str = "",
        partition: int = 0,
        start_offset: int = 0,
        key: str | None = None,
        timestamp_parts: dict[str, str] | None = None,
        prefix: str = "",
        extension: str = "",
    ) -> str:
        out = [prefix]
        for p in self.parts:
            if p.literal is not None:
                out.append(p.literal)
            elif p.variable == "topic":
                out.append(topic)
            elif p.variable == "partition":
                pad = p.param == "padding" and p.value == "true"
                out.append(f"{partition:010d}" if pad else str(partition))
            elif p.variable == "start_offset":
                pad = p.param == "padding" and p.value == "true"
                out.append(f"{start_offset:020d}" if pad else str(start_offset))
            elif p.variable == "key":
                out.append("null" if key is None else key)
            elif p.variable == "timestamp":
                out.append((timestamp_parts or {}).get(p.value, ""))
            elif p.variable in ("utc_date", "local_date"):
                out.append((timestamp_parts or {}).get(p.variable, ""))
        out.append(extension)
        return "".join(out)


def key_string_column(key: Column | None = None) -> Column:
    """Key stringification for {{key}} grouping: null → literal 'null', else cast
    to string (spec README.md:172-183; null-key behavior IntegrationTest.java:370-373)."""
    k = key if key is not None else F.col("key")
    return F.coalesce(k.cast("string"), F.lit("null"))


def _format_ts(ts: Column, unit: str, timezone: str) -> Column:
    local = F.from_utc_timestamp(ts, timezone) if timezone != "UTC" else ts
    return F.date_format(local, unit)


def _render_variable(p: TemplatePart, start_offset: Column, ts: Column, timezone: str) -> Column:
    if p.variable == "topic":
        return F.col("topic")
    if p.variable == "partition":
        if p.param == "padding" and p.value == "true":
            return F.format_string("%010d", F.col("partition"))
        return F.col("partition").cast("string")
    if p.variable == "start_offset":
        if p.param == "padding" and p.value == "true":
            return F.format_string("%020d", start_offset)
        return start_offset.cast("string")
    if p.variable == "key":
        return key_string_column()
    if p.variable == "timestamp":
        return _format_ts(ts, p.value, timezone)
    if p.variable == "utc_date":
        return F.date_format(ts, "yyyy-MM-dd")
    if p.variable == "local_date":
        return F.date_format(F.from_utc_timestamp(ts, timezone), "yyyy-MM-dd")
    raise TemplateError(f"unknown variable {p.variable!r}")
