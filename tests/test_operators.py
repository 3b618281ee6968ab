"""Core operator tests: recursive CTE, session shell, G.711 WAV codec."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_lealone_spark.operators.recursive import recursive_cte
from etl_lealone_spark.session import EngineSession


def test_recursive_series(spark):
    base = spark.range(1, 2).select(F.col("id").cast("int").alias("n"))
    out = recursive_cte(
        base, lambda d: d.filter(F.col("n") < 10).select((F.col("n") + 1).alias("n"))
    )
    vals = sorted(r["n"] for r in out.collect())
    assert vals == list(range(1, 11))


def test_recursive_distinct_terminates_on_cycle(spark):
    # graph with a cycle: 1→2→3→1; UNION (distinct) semantics must terminate
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src int, dst int")
    base = spark.createDataFrame([(1,)], "node int")
    out = recursive_cte(
        base,
        lambda d: d.join(edges, d.node == edges.src).select(
            F.col("dst").alias("node")
        ),
        distinct=True,
        max_iterations=10,
    )
    assert sorted(r["node"] for r in out.collect()) == [1, 2, 3]


def test_recursive_hits_iteration_cap(spark):
    base = spark.range(1, 2).select(F.col("id").alias("n"))
    with pytest.raises(RuntimeError, match="fixpoint"):
        recursive_cte(base, lambda d: d.select((F.col("n") + 1).alias("n")), max_iterations=5)


def test_engine_session_shell(spark):
    es = EngineSession(spark)
    es.set_setting("MAX_MEMORY_ROWS", 10000)
    assert es.get_setting("max_memory_rows") == 10000

    es.set_variable("@x", 42)
    assert es.get_variable("x") == 42

    seq = es.create_sequence("s1", start=10, increment=2)
    assert seq.next_value() == 10 and seq.next_value() == 12
    first, inc = seq.next_block(100)
    assert first == 14 and inc == 2
    assert seq.next_value() == 14 + 200

    es.prepare("q1", "SELECT 1 AS one")
    assert es.execute_prepared("q1").collect()[0]["one"] == 1


def test_wav_g711_companding_roundtrip(spark):
    """G.711 mu-law / A-law WAV decode: encode->decode->re-encode is
    code-identical for every reachable code (companding is bijective on
    the code space; mu-law's two zero codes both decode to 0), and the
    decoded signal matches the source within the companding error."""
    import numpy as np

    from etl_lealone_spark.operators.multimodal import (
        _ALAW_DECODE_LUT,
        _ULAW_DECODE_LUT,
        _linear_to_alaw,
        _linear_to_ulaw,
        _parse_wav,
        encode_wav,
    )

    t = np.linspace(0, 1, 800)
    sig = (0.6 * np.sin(2 * np.pi * 13 * t))[:, None]
    for comp in ("ulaw", "alaw"):
        buf = encode_wav(sig, 8000, companding=comp)
        rate, ch, back = _parse_wav(buf)
        assert (rate, ch) == (8000, 1)
        assert back.shape == sig.shape
        # companding SNR: coarse, but the waveform must track closely
        err = float(np.abs(back - sig).max())
        assert err < 0.05, err
    # bijectivity over the code space (modulo mu-law's +0/-0 pair)
    codes = np.arange(256, dtype=np.uint8)
    u_lin = np.round(_ULAW_DECODE_LUT[codes] * 32768).astype(np.int64)
    a_lin = np.round(_ALAW_DECODE_LUT[codes] * 32768).astype(np.int64)
    u_back = _linear_to_ulaw(u_lin)
    assert all(b == c or (c == 0x7F and b == 0xFF) for c, b in zip(codes, u_back))
    assert np.array_equal(_linear_to_alaw(a_lin), codes)


def test_build_spark_warns_on_unapplied_static_conf(spark):
    # codegen.cache.maxEntries is a static SQL conf: getOrCreate on the
    # live session keeps its value, so the request must not pass silently
    from etl_lealone_spark.session import build_spark

    key = "spark.sql.codegen.cache.maxEntries"
    live = spark.conf.get(key)
    with pytest.warns(UserWarning, match=f"{key}='7' requested .* has '{live}'"):
        again = build_spark(cores=8, shuffle_partitions=8, extra_conf={key: "7"})
    assert again is spark and spark.conf.get(key) == live
