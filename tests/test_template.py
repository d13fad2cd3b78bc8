"""Template parsing/validation/rendering — pinned to the reference spec
(README.md:50-95, S3SinkConfigTest.java:786-807)."""

import pytest

from kafka_connector_s3_sink_spark.template import FilenameTemplate, GrouperType, TemplateError


def test_default_template_resolves_topic_partition():
    t = FilenameTemplate("{{topic}}-{{partition}}-{{start_offset}}")
    assert t.grouper_type is GrouperType.TOPIC_PARTITION
    assert t.variables == {"topic", "partition", "start_offset"}


def test_timestamp_template_resolves_timestamp_grouper():
    t = FilenameTemplate(
        "{{topic}}-{{partition}}-{{start_offset}}-{{timestamp:unit=yyyy}}{{timestamp:unit=MM}}"
    )
    assert t.grouper_type is GrouperType.TOPIC_PARTITION_TIMESTAMP


def test_key_template_resolves_key_grouper():
    assert FilenameTemplate("{{key}}").grouper_type is GrouperType.KEY


def test_uppercase_yyyy_rejected_in_filename_template():
    # The YYYY→yyyy rewrite applies only to the prefix property; the filename
    # template rejects it (S3SinkConfigTest.java:786-807).
    with pytest.raises(TemplateError, match="unsupported parameter"):
        FilenameTemplate(
            "{{topic}}-{{timestamp:unit=YYYY}}-{{partition}}-{{start_offset}}"
        )


def test_unsupported_variable_set_rejected():
    with pytest.raises(TemplateError, match="unsupported set"):
        FilenameTemplate("{{topic}}-{{key}}")
    with pytest.raises(TemplateError, match="unsupported set"):
        FilenameTemplate("{{topic}}-{{partition}}")  # missing start_offset


def test_unknown_variable_rejected():
    with pytest.raises(TemplateError, match="unsupported template variable"):
        FilenameTemplate("{{bogus}}-{{topic}}-{{partition}}-{{start_offset}}")


def test_bad_parameter_rejected():
    with pytest.raises(TemplateError, match="unsupported parameter"):
        FilenameTemplate("{{topic}}-{{partition}}-{{start_offset:padding=maybe}}")
    with pytest.raises(TemplateError, match="unsupported parameter"):
        FilenameTemplate("{{topic}}-{{partition}}-{{start_offset}}-{{timestamp:unit=ss}}")


def test_python_render_padding():
    # golden name shape per S3SinkTaskTest.java:198-213 / README.md:66-68
    t = FilenameTemplate("{{topic}}-{{partition}}-{{start_offset:padding=true}}")
    assert (
        t.render(topic="test-topic", partition=0, start_offset=0, prefix="prefix-")
        == "prefix-test-topic-0-00000000000000000000"
    )
    t2 = FilenameTemplate("{{topic}}-{{partition:padding=true}}-{{start_offset}}")
    assert t2.render(topic="mytopic", partition=1, start_offset=1) == "mytopic-0000000001-1"


def test_python_render_key_null():
    t = FilenameTemplate("{{key}}")
    assert t.render(key=None) == "null"
    assert t.render(key="key-7", extension=".gz") == "key-7.gz"


def test_literal_text_preserved():
    t = FilenameTemplate("dir/{{topic}}/{{partition}}-{{start_offset}}.csv")
    assert t.render(topic="t", partition=2, start_offset=5) == "dir/t/2-5.csv"
