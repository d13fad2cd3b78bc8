"""Z-order clustering key (`operators/layout.py`): the Morton key
interleaves correctly, clamps out-of-range values, and refuses widths that
would overflow the sign bit."""

import pytest

from kafka_connector_s3_sink_spark.operators import layout
from kafka_connector_s3_sink_spark.operators.layout import ZColumn


def test_zorder_key_interleaves_bits(spark):
    # bucket(x)=5=0b101, bucket(y)=3=0b011 with 3-bit buckets over [0,8):
    # z = interleave(x bit b -> pos 2b, y bit b -> pos 2b+1)
    df = spark.createDataFrame([(5.0, 3.0)], "x double, y double")
    z = df.select(
        layout.zorder_key([ZColumn("x", 0.0, 8.0), ZColumn("y", 0.0, 8.0)], bits=3)
        .alias("z")
    ).collect()[0]["z"]
    # x bits (LSB first): 1,0,1 -> positions 0,2,4 ; y bits: 1,1,0 -> 1,3,5
    assert z == (1 << 0) + (0 << 2) + (1 << 4) + (1 << 1) + (1 << 3) + (0 << 5)


def test_zorder_key_clamps_out_of_range(spark):
    df = spark.createDataFrame([(-5.0, 99.0)], "x double, y double")
    z = df.select(
        layout.zorder_key([ZColumn("x", 0.0, 8.0), ZColumn("y", 0.0, 8.0)], bits=3)
        .alias("z")
    ).collect()[0]["z"]
    # x clamps to bucket 0, y to bucket 7 (0b111 -> odd positions 1,3,5)
    assert z == (1 << 1) + (1 << 3) + (1 << 5)


def test_zorder_key_rejects_sign_bit_overflow(spark):
    # bits*ncols must fit the 63 value bits of a signed long: 8 bits x 8
    # cols = 64 would shift the top bit into the sign, flipping z-keys
    # negative and breaking the range clustering (ADVICE r7).
    cols = [ZColumn(f"c{i}", 0.0, 1.0) for i in range(8)]
    with pytest.raises(ValueError, match="exceeds 63"):
        layout.zorder_key(cols, bits=8)
    # 7 cols x 9 bits = 63 is the maximal legal width
    layout.zorder_key(cols[:7], bits=9)
