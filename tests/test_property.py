"""Property-based tests (SURVEY §5.4): Hypothesis-generated GBFS payloads
through the real JSON→flatten path, asserting the structural invariants the
reference silently relies on, plus dedup idempotence."""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_dag_paris_velib_spark.cacheutil import clear_plan_caches
from etl_dag_paris_velib_spark.operators.dedup import keep_first
from etl_dag_paris_velib_spark.schemas import VELIB_ENVELOPE_SCHEMA
from etl_dag_paris_velib_spark.sources.readers import read_json
from etl_dag_paris_velib_spark.sources.velib import flatten_station_status

_station = st.fixed_dictionaries(
    {
        # includes the >int32 ids the reference mistyped as FLOAT (§1.5)
        "station_id": st.integers(min_value=1, max_value=30_000_000_000),
        "stationCode": st.text(alphabet="0123456789", min_size=1, max_size=6),
        "is_installed": st.integers(0, 1),
        "is_renting": st.integers(0, 1),
        "is_returning": st.integers(0, 1),
        "last_reported": st.integers(min_value=1_600_000_000, max_value=1_800_000_000),
        "num_bikes_available": st.integers(0, 60),
        "num_docks_available": st.integers(0, 60),
        "num_bikes_available_types": st.tuples(
            st.integers(0, 40), st.integers(0, 40)
        ).map(lambda t: [{"mechanical": t[0]}, {"ebike": t[1]}]),
    }
)

_payload = st.lists(_station, min_size=0, max_size=12).map(
    lambda stations: {
        "lastUpdatedOther": 1_738_318_000,
        "ttl": 3600,
        "data": {"stations": stations},
    }
)


@pytest.fixture(scope="module")
def pbt_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("pbt")


@given(payload=_payload)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_flatten_invariants(spark, pbt_dir, payload):
    p = pbt_dir / "payload.json"
    p.write_text(json.dumps(payload))
    flat = flatten_station_status(
        read_json(spark, str(p), VELIB_ENVELOPE_SCHEMA, multiline=True)
    )
    rows = flat.collect()
    stations = payload["data"]["stations"]
    # row count == array length (no silent drops, no fan-out surprises)
    assert len(rows) == len(stations)
    # no type widening: ids stay exact integers, flags stay ints
    assert dict(flat.dtypes)["station_id"] == "bigint"
    got = sorted(
        (r.station_id, r.num_bikes_mechanical, r.num_bikes_ebike) for r in rows
    )
    want = sorted(
        (
            s["station_id"],
            s["num_bikes_available_types"][0]["mechanical"],
            s["num_bikes_available_types"][1]["ebike"],
        )
        for s in stations
    )
    assert got == want
    # surrogate key encodes the natural key
    for r in rows:
        assert r.record_id == f"{r.station_id}_{int(r.last_reported.timestamp())}"


@given(payload=_payload)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dedup_idempotent(spark, pbt_dir, payload):
    p = pbt_dir / "payload2.json"
    p.write_text(json.dumps(payload))
    flat = flatten_station_status(
        read_json(spark, str(p), VELIB_ENVELOPE_SCHEMA, multiline=True)
    )
    once = keep_first(flat, ["station_id", "last_reported"], [F.col("record_id")])
    twice = keep_first(once, ["station_id", "last_reported"], [F.col("record_id")])
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b
    # natural key unique after dedup
    assert (
        once.groupBy("station_id", "last_reported").count().filter("count > 1").count()
        == 0
    )


@given(
    data=st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
        min_size=1,
        max_size=512,
    ),
    n_ch=st.integers(min_value=1, max_value=4),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=40, deadline=None)
def test_wav_codec_round_trip(data, n_ch, rate):
    """encode_wav -> decode_wav recovers rate, channel count, sample
    count, and every sample within one 16-bit LSB, for any PCM content,
    channel layout, and odd/even data-chunk length (word alignment)."""
    import numpy as np

    from etl_dag_paris_velib_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    n = len(data)
    samples = np.tile(np.asarray(data, dtype=np.float64)[:, None], (1, n_ch))
    wav = encode_wav(samples, rate)
    got_rate, got_ch, got = decode_wav(wav)
    assert (got_rate, got_ch) == (rate, n_ch)
    assert got.shape == (n, n_ch)
    assert np.abs(got - np.clip(samples, -1.0, 32767 / 32768)).max() <= 1.0 / 32768


@given(
    secs=st.lists(
        st.integers(min_value=0, max_value=400), min_size=2, max_size=40
    ),
    gap=st.integers(min_value=1, max_value=120),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_range_join_matches_naive_predicate_property(spark, secs, gap):
    """Bucketized range self-join == the raw all-pairs predicate for
    arbitrary timestamp multisets and gap widths (duplicate timestamps,
    boundary-exact gaps, cross-bucket pairs all arise from the strategy)."""
    import datetime as dt

    from etl_dag_paris_velib_spark.operators.rangejoin import (
        range_self_join_pairs,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate(secs)]
    df = spark.createDataFrame(rows, ["event_id", "ts"])
    got = {
        (r.id_a, r.id_b, r.gap_us)
        for r in range_self_join_pairs(
            df, ts_col="ts", id_col="event_id", max_gap_seconds=gap
        ).collect()
    }
    want = set()
    for ia, ta in rows:
        for ib, tb in rows:
            d = (tb - ta).total_seconds()
            if 0 <= d <= gap and (ta < tb or (ta == tb and ia < ib)):
                want.add((ia, ib, int(d * 1_000_000)))
    assert got == want


@given(payload=st.binary(min_size=0, max_size=128))
@settings(max_examples=200, deadline=None)
def test_wav_decoder_rejects_garbage_cleanly(payload):
    """decode_wav on arbitrary bytes must either decode (iff it is a
    well-formed PCM WAV) or raise the documented NotImplementedError —
    never an uncontrolled IndexError/struct crash inside an executor."""
    from etl_dag_paris_velib_spark.operators.multimodal import decode_wav

    try:
        rate, ch, samples = decode_wav(payload)
    except NotImplementedError:
        return
    assert rate >= 0 and ch >= 1 and samples.ndim == 2


# ---------------------------------------------------------------------------
# KMV set-op estimator properties (operators/sketch.py:kmv_set_ops)
# ---------------------------------------------------------------------------

_setpair = st.tuples(
    st.sets(st.integers(0, 200), min_size=0, max_size=25),
    st.sets(st.integers(0, 200), min_size=1, max_size=25),
)


@given(pair=_setpair)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kmv_set_ops_exact_when_union_under_k(spark, pair):
    """Whenever |A∪B| < k the sketch sees everything and the "estimates"
    must equal the true union/intersection cardinalities exactly, for
    arbitrary (including empty-overlap and subset) set pairs."""
    from etl_dag_paris_velib_spark.operators.sketch import kmv_set_ops

    sa, sb = pair
    rows = [("a", f"v{x}") for x in sa] + [("b", f"v{x}") for x in sb]
    if not sa:
        rows.append(("a", "only"))
        sa = {"only"}
    df = spark.createDataFrame(rows, "g string, k string")
    got = kmv_set_ops(df, "g", "k", k=64).collect()
    clear_plan_caches(spark)
    assert len(got) == 1
    r = got[0]
    sa2 = {f"v{x}" for x in sa} if sa != {"only"} else sa
    sb2 = {f"v{x}" for x in sb}
    assert r["est_union"] == len(sa2 | sb2)
    assert r["est_inter"] == len(sa2 & sb2)


# ---------------------------------------------------------------------------
# PNG codec property (operators/multimodal.py, r06)
# ---------------------------------------------------------------------------

_png_shape = st.tuples(st.integers(1, 24), st.integers(1, 24))


@given(shape=_png_shape, seed=st.integers(0, 2**31 - 1))
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(shape, seed):
    """Any uint8 RGB array round-trips encode_png -> decode_png exactly.
    The encoder's row-filter cycle means every image >= 5 rows exercises
    all five PNG filter types; random content stresses the Paeth
    predictor's tie-break branches (pa <= pb <= pc ordering)."""
    import numpy as np

    from etl_dag_paris_velib_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    h, w = shape
    px = np.random.RandomState(seed).randint(0, 256, size=(h, w, 3)).astype(
        np.uint8
    )
    back = decode_png(encode_png(px))
    assert back.dtype == np.uint8
    assert np.array_equal(back, px)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1e3,
                max_value=1e3,
                allow_nan=False,
                allow_infinity=False,
                width=64,
                # Magnitudes bounded away from sqrt(subnormal): a product
                # of two in-range terms can never underflow to -0.0, which
                # is the one case where dot_fixed's first term (t1) and the
                # fold's (0.0 + t1) differ in bit pattern (ADVICE r07).
            ).filter(lambda x: abs(x) >= 1e-100),
            min_size=6,
            max_size=6,
        ),
        min_size=2,
        max_size=8,
    )
)
def test_dot_fixed_bit_equals_hof_fold(spark, vecs):
    """functions/vector.py:dot_fixed (explicit codegen multiply-add
    chain) must be BIT-IDENTICAL to dot (the interpreted HOF fold) on
    nonzero finite doubles — the guarantee the PQ specs (q136/q139)
    lean on when they swap one for the other under an unchanged DuckDB
    oracle. Both evaluate the same left-to-right addition sequence;
    hypothesis sweeps magnitude mixes where a different sequence WOULD
    diverge in the last ulp."""
    import struct

    from pyspark.sql import functions as F

    from etl_dag_paris_velib_spark.functions.vector import dot, dot_fixed

    pairs = [(vecs[i], vecs[(i + 1) % len(vecs)]) for i in range(len(vecs))]
    df = spark.createDataFrame(
        [(a, b) for a, b in pairs], "a array<double>, b array<double>"
    )
    rows = df.select(
        dot("a", "b").alias("hof"), dot_fixed("a", "b", 6).alias("fixed")
    ).collect()
    for r in rows:
        assert struct.pack("<d", r["hof"]) == struct.pack("<d", r["fixed"]), (
            r["hof"],
            r["fixed"],
        )
