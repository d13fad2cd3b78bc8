"""Engine configuration.

Mirrors the validated surface of the reference connector's config
(``S3SinkConfig.java:138-187`` preprocess, ``687-738`` cross-field ``validate()``,
defaults at ``815-844`` / ``802-813`` / ``453-476``), re-expressed as a Python
dataclass validated before any Spark query starts (SURVEY.md §3.3).

Semantic rules kept from the reference:
- output fields ⊆ {key, value, offset, timestamp, headers}, order preserved,
  default ``[value]`` (``S3SinkConfig.java:822-824``).
- value/key encoding ∈ {base64, none}, default base64 (``S3SinkConfig.java:827-844``).
- format ∈ {csv, json, jsonl, parquet}, default csv (``S3SinkConfigTest.java:753-783``).
- compression ∈ {none, gzip, snappy, zstd}, default gzip (``S3SinkConfig.java:802-813``).
- ``{{key}}`` filename template ⇒ ``file.max.records ≤ 1`` (``S3SinkConfig.java:729-737``).
- static credentials XOR STS assume-role (``S3SinkConfig.java:687-718``).
- multipart part size ∈ (0, 2_000_000_000] bytes (``S3SinkConfig.java:257-295``).
- timestamp timezone (default UTC) + wallclock-only source (``S3SinkConfig.java:865-874``).
"""

from __future__ import annotations

import zoneinfo
from dataclasses import dataclass
from enum import Enum
from typing import Optional

MAX_PART_SIZE_BYTES = 2_000_000_000
DEFAULT_PART_SIZE_BYTES = 5 * 1024 * 1024
MAX_KAFKA_RETRY_BACKOFF_MS = 24 * 60 * 60 * 1000


class ConfigValidationError(ValueError):
    """Raised when configuration violates a reference-semantics rule."""


def _enum_from_prop(
    enum_cls, name: str, raw: Optional[str], default: str, allowed=None
):
    """Enum lookup with the reference's exact unsupported-value message
    (S3SinkConfigTest.java:688-710 compression, :772-782 format type).
    ``allowed`` restricts the property surface to a subset of the enum —
    engine-extension members (FormatType.AVRO) stay constructible via the
    Python API but are rejected by the reference-parity property path with
    the reference's own message (which lists only its four formats)."""
    value = default if raw is None else raw
    members = list(enum_cls) if allowed is None else list(allowed)
    try:
        member = enum_cls(value)
        if member not in members:
            raise ValueError(value)
        return member
    except ValueError:
        supported = ", ".join(f"'{m.value}'" for m in members)
        raise ConfigValidationError(
            f"Invalid value {value} for configuration {name}: "
            f"supported values are: {supported}"
        ) from None


class OutputField(str, Enum):
    KEY = "key"
    VALUE = "value"
    OFFSET = "offset"
    TIMESTAMP = "timestamp"
    HEADERS = "headers"


class FieldEncoding(str, Enum):
    BASE64 = "base64"
    NONE = "none"


class FormatType(str, Enum):
    CSV = "csv"
    JSON = "json"
    JSONL = "jsonl"
    PARQUET = "parquet"
    # Engine extensions (beyond the reference's four formats), constructible
    # via the Python API only — the reference-parity property path rejects
    # them with the reference's own message (S3SinkConfigTest.java:772-782):
    # AVRO = Object Container Files on the grouped-object write path,
    # reusing the pure-Python codec in formats/avro.py; ORC = the columnar
    # sibling of the parquet path (pyarrow.orc per group, Spark-native
    # read-back).
    AVRO = "avro"
    ORC = "orc"


class CompressionType(str, Enum):
    NONE = "none"
    GZIP = "gzip"
    SNAPPY = "snappy"
    ZSTD = "zstd"

    @property
    def extension(self) -> str:
        # Filename extensions per reference (S3SinkTask.java:204, README.md:481,497).
        return {
            CompressionType.NONE: "",
            CompressionType.GZIP: ".gz",
            CompressionType.SNAPPY: ".snappy",
            CompressionType.ZSTD: ".zst",
        }[self]


@dataclass(frozen=True)
class AwsStaticCredentials:
    access_key_id: str
    secret_access_key: str


@dataclass(frozen=True)
class AwsStsRole:
    role_arn: str
    role_session_name: str
    role_external_id: Optional[str] = None
    session_duration_s: int = 3600  # bounds per AwsStsRole.java:27-64

    def __post_init__(self) -> None:
        # exact messages pinned by S3SinkConfigTest.java:875-897
        if self.session_duration_s < 900:
            raise ConfigValidationError(
                f"Invalid value {self.session_duration_s} for configuration "
                "aws.sts.role.session.duration: Value must be at least 900"
            )
        if self.session_duration_s > 43200:
            raise ConfigValidationError(
                f"Invalid value {self.session_duration_s} for configuration "
                "aws.sts.role.session.duration: Value must be no more than 43200"
            )


@dataclass(frozen=True)
class EngineConfig:
    """Validated engine configuration (construct once, pass everywhere)."""

    # sink destination: any Spark-writable URI (s3a://bucket/prefix, file:/tmp/out)
    bucket: str = ""
    prefix: str = ""

    # filename template, default per README.md:50
    file_name_template: str = "{{topic}}-{{partition}}-{{start_offset}}"
    file_max_records: int = 0  # 0 = unlimited
    file_compression: CompressionType = CompressionType.GZIP

    format_type: FormatType = FormatType.CSV
    output_fields: tuple[OutputField, ...] = (OutputField.VALUE,)
    value_encoding: FieldEncoding = FieldEncoding.BASE64
    # Declared Connect converter semantics for key/value (≙ key.converter /
    # value.converter). "bytes" = ByteArrayConverter (schema type BYTES — the
    # Kafka source's native shape; a StringType column is then treated as the
    # UTF-8 view of the payload bytes). "string" = StringConverter (schema
    # type STRING — the CSV format REJECTS it at flush exactly like the
    # reference, S3SinkTaskTest.java:474-498).
    key_converter: str = "bytes"
    value_converter: str = "bytes"
    envelope: bool = True
    # rotate parquet objects when the value schema changes mid-partition
    # (AvroParquetIntegrationTest.java:288-335); new file starts at the next
    # offset, returning to an old schema starts another new file
    parquet_schema_rotation: bool = False
    # Spark DDL for the value payload (e.g. "user BIGINT, etype STRING").
    # When set (parquet only), the JSON value is parsed with from_json and
    # written as a TRUE NESTED RECORD in the envelope — the reference's
    # schema'd-Avro value shape (AvroParquetIntegrationTest.java:136-349,
    # README.md:357-405). Unset = value stays a string payload (schemaless
    # JsonConverter analog). This is the configured *reader* schema (≙ the
    # registry's resolved schema); per-record embedded schemas don't exist in
    # the JSON world, so rotation still keys on the observed top-level key set.
    parquet_value_schema: Optional[str] = None

    timestamp_timezone: str = "UTC"
    timestamp_source: str = "wallclock"  # the only supported source (S3SinkConfig.java:495-503)

    # streaming knobs (≙ offset.flush.interval.ms / kafka.retry.backoff.ms)
    flush_interval_ms: int = 60_000
    kafka_retry_backoff_ms: Optional[int] = None
    checkpoint_location: Optional[str] = None

    # S3 transport knobs — mapped onto hadoop s3a settings, not reimplemented
    part_size_bytes: int = DEFAULT_PART_SIZE_BYTES
    backoff_delay_ms: int = 100
    backoff_max_delay_ms: int = 20_000
    backoff_max_retries: int = 3

    aws_credentials: Optional[AwsStaticCredentials] = None
    aws_sts_role: Optional[AwsStsRole] = None
    s3_endpoint: Optional[str] = None

    def __post_init__(self) -> None:
        self.validate()

    # -- validation -------------------------------------------------------
    def validate(self) -> None:
        from kafka_connector_s3_sink_spark.template import FilenameTemplate, GrouperType

        if not self.output_fields:
            raise ConfigValidationError("format.output.fields must not be empty")
        if len(set(self.output_fields)) != len(self.output_fields):
            raise ConfigValidationError("format.output.fields must not repeat fields")

        for conv_name, conv in (
            ("key_converter", self.key_converter),
            ("value_converter", self.value_converter),
        ):
            if conv not in ("bytes", "string"):
                raise ConfigValidationError(
                    f"{conv_name} must be 'bytes' or 'string', {conv!r} given"
                )

        if self.file_max_records < 0:
            raise ConfigValidationError(
                f"file.max.records must be a non-negative integer, {self.file_max_records} given"
            )

        if (
            self.parquet_value_schema is not None
            and self.format_type is not FormatType.PARQUET
        ):
            raise ConfigValidationError(
                "format.output.parquet.value.schema requires format.output.type=parquet, "
                f"{self.format_type.value!r} given"
            )

        # bound-check messages exactly as the reference pins them
        # (S3SinkConfigTest.java:270-295, 565-620)
        if self.part_size_bytes <= 0:
            raise ConfigValidationError(
                f"Invalid value {self.part_size_bytes} for configuration "
                "aws.s3.part.size.bytes: Part size must be greater than 0"
            )
        if self.part_size_bytes > MAX_PART_SIZE_BYTES:
            raise ConfigValidationError(
                f"Invalid value {self.part_size_bytes} for configuration "
                "aws.s3.part.size.bytes: "
                "Part size must be no more: 2000000000 bytes (2GB)"
            )
        if self.backoff_delay_ms < 1:
            raise ConfigValidationError(
                f"Invalid value {self.backoff_delay_ms} for configuration "
                "aws.s3.backoff.delay.ms: Value must be at least 1"
            )
        if self.backoff_max_delay_ms < 1:
            raise ConfigValidationError(
                f"Invalid value {self.backoff_max_delay_ms} for configuration "
                "aws.s3.backoff.max.delay.ms: Value must be at least 1"
            )
        if self.backoff_max_retries < 1:
            raise ConfigValidationError(
                f"Invalid value {self.backoff_max_retries} for configuration "
                "aws.s3.backoff.max.retries: Value must be at least 1"
            )
        if self.backoff_max_retries > 30:
            raise ConfigValidationError(
                f"Invalid value {self.backoff_max_retries} for configuration "
                "aws.s3.backoff.max.retries: Value must be no more than 30"
            )
        if self.kafka_retry_backoff_ms is not None and not (
            0 <= self.kafka_retry_backoff_ms <= MAX_KAFKA_RETRY_BACKOFF_MS
        ):
            raise ConfigValidationError(
                "kafka retry backoff must be in [0, 86400000] ms, "
                f"{self.kafka_retry_backoff_ms} given"
            )

        try:
            zoneinfo.ZoneInfo(self.timestamp_timezone)
        except (zoneinfo.ZoneInfoNotFoundError, ValueError) as exc:
            raise ConfigValidationError(
                f"unknown timestamp timezone {self.timestamp_timezone!r}"
            ) from exc
        if self.timestamp_source != "wallclock":
            raise ConfigValidationError(
                f"unsupported timestamp source {self.timestamp_source!r} (only 'wallclock')"
            )

        # exactly-one-credential-mechanism rule (S3SinkConfig.java:687-718); both
        # absent is allowed here because local-filesystem sinks need neither.
        if self.aws_credentials is not None and self.aws_sts_role is not None:
            raise ConfigValidationError(
                "either static AWS credentials or an STS assume-role must be configured, not both"
            )

        # template parses and its variable combo is a known grouper type
        try:
            template = FilenameTemplate(self.file_name_template)
        except Exception as exc:
            if "unsupported parameter" in str(exc):
                # exact message S3SinkConfigTest.java:786-807 (e.g. unit=YYYY)
                raise ConfigValidationError(
                    f"Invalid value {self.file_name_template} for configuration "
                    "file.name.template: unsupported set of template variables "
                    "parameters, supported sets are: "
                    "partition:padding=true|false,start_offset:padding=true|false,"
                    "timestamp:unit=yyyy|MM|dd|HH"
                ) from exc
            raise
        if template.grouper_type is GrouperType.KEY and self.file_max_records > 1:
            # S3SinkConfig.java:729-737
            raise ConfigValidationError(
                "When file.name.template is {{key}}, file.max.records must be either 1 or not set"
            )

    # -- properties-map entry point ---------------------------------------
    @classmethod
    def from_properties(cls, properties: dict[str, str]) -> "EngineConfig":
        """Build a validated config from a Connect-style properties map — the
        reference's entry point (``new S3SinkConfig(Map<String,String>)``,
        ``S3SinkConfig.java:138-141``), with the same two quirks:

        - deprecated old names accepted, NEW names win when both are present
          (``S3SinkConfig.java:815-825`` for output fields, ``802-813`` for
          compression, ``762-772`` for prefix);
        - ``{{timestamp:unit=YYYY}}`` in the prefix is rewritten to ``yyyy``
          (``preprocessProperties``, ``S3SinkConfig.java:143-174``).
        """
        import re

        props = dict(properties)
        # preprocess: YYYY → yyyy in prefix templates (S3SinkConfig.java:148-174)
        yyyy = re.compile(r"\{\{\s*timestamp\s*:\s*unit\s*=\s*YYYY\s*\}\}")
        for prop in ("aws.s3.prefix", "aws_s3_prefix"):
            if prop in props:
                props[prop] = yyyy.sub(
                    lambda m: m.group().replace("YYYY", "yyyy"), props[prop]
                )

        def pick(new: str, old: str | None = None, default: str | None = None):
            if new in props:
                return props[new]
            if old is not None and old in props:
                return props[old]
            return default

        def pick_named(new: str, old: str | None = None):
            """Value plus the property name it arrived under — reference
            validation messages name the key the user actually set."""
            if new in props:
                return new, props[new]
            if old is not None and old in props:
                return old, props[old]
            return new, None

        def require_non_empty_string(new: str, old: str | None = None):
            # S3SinkConfigTest.java:298-421: an empty string for
            # bucket/prefix/endpoint is a validation error, not "absent"
            name, value = pick_named(new, old)
            if value == "":
                raise ConfigValidationError(
                    f"Invalid value {value} for configuration {name}: "
                    "String must be non-empty"
                )
            return value

        fields_name, fields_raw = pick_named("format.output.fields", "output_fields")
        if fields_raw == "":
            # S3SinkConfigTest.java:460-488
            raise ConfigValidationError(
                f"Invalid value [] for configuration {fields_name}: cannot be empty"
            )
        if fields_raw is not None:
            names = [f.strip() for f in fields_raw.split(",")]
            supported = {f.value for f in OutputField}
            if any(n not in supported for n in names):
                # S3SinkConfigTest.java:513-545
                raise ConfigValidationError(
                    f"Invalid value [{', '.join(names)}] for configuration "
                    f"{fields_name}: supported values are: "
                    "'key', 'value', 'offset', 'timestamp', 'headers'"
                )
            output_fields = tuple(OutputField(n) for n in names)
        else:
            output_fields = (OutputField.VALUE,)

        ak_name, access_key = pick_named("aws.access.key.id", "aws_access_key_id")
        sk_name, secret_key = pick_named(
            "aws.secret.access.key", "aws_secret_access_key"
        )
        # a blank credential is an error, never silently "no credentials"
        # (NonEmptyPassword; exact messages S3SinkConfigTest.java:215-261)
        if access_key == "":
            raise ConfigValidationError(
                f"Invalid value [hidden] for configuration {ak_name}: "
                "Password must be non-empty"
            )
        if secret_key == "":
            raise ConfigValidationError(
                f"Invalid value [hidden] for configuration {sk_name}: "
                "Password must be non-empty"
            )
        if (access_key is None) != (secret_key is None):
            raise ConfigValidationError(
                "aws.access.key.id and aws.secret.access.key must be given together"
            )
        credentials = (
            AwsStaticCredentials(access_key, secret_key)
            if access_key is not None
            else None
        )

        sts_role = None
        if pick("aws.sts.role.arn") is not None:
            sts_role = AwsStsRole(
                role_arn=props["aws.sts.role.arn"],
                role_session_name=pick("aws.sts.role.session.name", default=""),
                role_external_id=pick("aws.sts.role.external.id"),
                session_duration_s=int(
                    pick("aws.sts.role.session.duration", default="3600")
                ),
            )

        require_non_empty_string("aws.s3.bucket.name", "aws_s3_bucket")
        require_non_empty_string("aws.s3.prefix", "aws_s3_prefix")
        endpoint = require_non_empty_string("aws.s3.endpoint", "aws_s3_endpoint")
        if endpoint is not None:
            from urllib.parse import urlparse

            ep_name, _ = pick_named("aws.s3.endpoint", "aws_s3_endpoint")
            parsed = urlparse(endpoint)
            if parsed.scheme not in ("http", "https") or not parsed.netloc:
                # UrlValidator; exact message S3SinkConfigTest.java:440,455
                raise ConfigValidationError(
                    f"Invalid value {endpoint} for configuration {ep_name}: "
                    "should be valid URL"
                )

        return cls(
            bucket=pick("aws.s3.bucket.name", "aws_s3_bucket", ""),
            prefix=pick("aws.s3.prefix", "aws_s3_prefix", ""),
            file_name_template=pick(
                "file.name.template", default="{{topic}}-{{partition}}-{{start_offset}}"
            ),
            file_max_records=int(pick("file.max.records", default="0")),
            file_compression=_enum_from_prop(
                CompressionType,
                *pick_named("file.compression.type", "output_compression"),
                default="gzip",
            ),
            format_type=_enum_from_prop(
                FormatType,
                *pick_named("format.output.type"),
                default="csv",
                allowed=(
                    FormatType.CSV,
                    FormatType.JSON,
                    FormatType.JSONL,
                    FormatType.PARQUET,
                ),
            ),
            output_fields=output_fields,
            value_encoding=FieldEncoding(
                pick("format.output.fields.value.encoding", default="base64")
            ),
            envelope=pick("format.output.envelope", default="true").lower() == "true",
            parquet_value_schema=pick("format.output.parquet.value.schema"),
            timestamp_timezone=pick("timestamp.timezone", default="UTC"),
            timestamp_source=pick("timestamp.source", default="wallclock"),
            kafka_retry_backoff_ms=(
                int(props["kafka.retry.backoff.ms"])
                if "kafka.retry.backoff.ms" in props
                else None
            ),
            part_size_bytes=int(
                pick("aws.s3.part.size.bytes", default=str(DEFAULT_PART_SIZE_BYTES))
            ),
            backoff_delay_ms=int(pick("aws.s3.backoff.delay.ms", default="100")),
            backoff_max_delay_ms=int(
                pick("aws.s3.backoff.max.delay.ms", default="20000")
            ),
            backoff_max_retries=int(pick("aws.s3.backoff.max.retries", default="3")),
            aws_credentials=credentials,
            aws_sts_role=sts_role,
            s3_endpoint=pick("aws.s3.endpoint", "aws_s3_endpoint"),
        )

    # -- derived ----------------------------------------------------------
    @property
    def template(self):
        from kafka_connector_s3_sink_spark.template import FilenameTemplate

        return FilenameTemplate(self.file_name_template)

    @property
    def filename_extension(self) -> str:
        # parquet/avro/orc objects never get a compression suffix
        # (compression is internal to the container)
        if self.format_type in (
            FormatType.PARQUET,
            FormatType.AVRO,
            FormatType.ORC,
        ):
            return ""
        return self.file_compression.extension

    def spark_hadoop_conf(self) -> dict[str, str]:
        """Map transport knobs onto hadoop-s3a settings (SURVEY.md §2.5: multipart,
        retry, endpoint, credentials are s3a's job, not ours).

        These settings reach only Spark's own S3 reads, once the caller applies
        them to the session (``spark.hadoop.*`` configs): the binaryFile scan and
        the native parquet/ORC scan of ``sources.objects.read_sink_objects``. The
        object writer never reads them: it writes through ``pyarrow.fs``
        (``sinks.storage.ObjectStorage``), which takes region and endpoint from
        the destination URI's query string and credentials from the AWS
        environment, with pyarrow's own multipart and retry defaults."""
        conf: dict[str, str] = {
            "fs.s3a.multipart.size": str(self.part_size_bytes),
            "fs.s3a.retry.limit": str(self.backoff_max_retries),
            "fs.s3a.retry.interval": f"{self.backoff_delay_ms}ms",
            "fs.s3a.retry.throttle.interval.max": f"{self.backoff_max_delay_ms}ms",
        }
        if self.s3_endpoint:
            conf["fs.s3a.endpoint"] = self.s3_endpoint
            conf["fs.s3a.path.style.access"] = "true"
        if self.aws_credentials:
            conf["fs.s3a.access.key"] = self.aws_credentials.access_key_id
            conf["fs.s3a.secret.key"] = self.aws_credentials.secret_access_key
        if self.aws_sts_role:
            conf["fs.s3a.aws.credentials.provider"] = (
                "org.apache.hadoop.fs.s3a.auth.AssumedRoleCredentialProvider"
            )
            conf["fs.s3a.assumed.role.arn"] = self.aws_sts_role.role_arn
            conf["fs.s3a.assumed.role.session.name"] = self.aws_sts_role.role_session_name
            conf["fs.s3a.assumed.role.session.duration"] = (
                f"{self.aws_sts_role.session_duration_s}s"
            )
        return conf
