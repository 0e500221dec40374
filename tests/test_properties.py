"""Hypothesis property tests (SURVEY §5): invariants that must hold for
ARBITRARY data, not just the fixture tables — the parse path inverts the
synthesis path exactly, and the deterministic money-sum is invariant
under repartitioning (the property that makes it oracle-safe).

Data is generated driver-side and pushed through real Spark plans;
examples are kept small (Spark job per example is ~0.5 s) with
deadline=None.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from engine.dsl import dsum

LINE_FIELDS = st.tuples(
    st.integers(0, 10**9),            # account
    st.integers(0, 2**16 - 1),         # srcport
    st.integers(0, 2**16 - 1),         # dstport
    st.integers(0, 255),               # protocol
    st.integers(0, 10**12),            # packets
    st.integers(0, 10**12),            # bytes
    st.integers(0, 2**31 - 1),         # start epoch
    st.sampled_from(["ACCEPT", "REJECT"]),
    st.sampled_from(["OK", "NODATA", "SKIPDATA"]),
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(LINE_FIELDS, min_size=1, max_size=8))
def test_flowlog_parse_inverts_any_v2_line(spark, rows):
    """from_csv(sep=' ') must recover every field of any well-formed
    v2 line, not just the fixture-synthesized ones."""
    from engine.ingest import parse_flowlog_lines

    lines = [
        (
            i,
            f"2 {acct} eni-{acct} 10.0.0.1 10.1.0.2 {sp} {dp} {proto} "
            f"{pk} {by} {t0} {t0 + 60} {action} {status}",
        )
        for i, (acct, sp, dp, proto, pk, by, t0, action, status) in enumerate(rows)
    ]
    df = spark.createDataFrame(lines, "row_id long, line string")
    got = {r["row_id"]: r for r in parse_flowlog_lines(df).collect()}
    for i, (acct, sp, dp, proto, pk, by, t0, action, status) in enumerate(rows):
        r = got[i]
        assert r["version"] == 2
        assert r["account_id"] == str(acct)
        assert r["srcport"] == sp and r["dstport"] == dp
        assert r["protocol"] == proto
        assert r["packets"] == pk and r["bytes"] == by
        assert r["start"] == t0 and r["end"] == t0 + 60
        assert r["action"] == action and r["log_status"] == status


MONEY = st.decimals(
    min_value=-(10**6), max_value=10**6, places=2, allow_nan=False, allow_infinity=False
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(MONEY, min_size=1, max_size=40), st.integers(1, 8))
def test_dsum_invariant_under_partitioning(spark, vals, nparts):
    """dsum must produce the bit-identical double for every partition
    layout (plain sum(double) would not) — the invariant the DuckDB
    value-hash parity rests on."""
    floats = [float(v) for v in vals]
    df = spark.createDataFrame([(x,) for x in floats], "v double")
    a = df.repartition(nparts).agg(dsum(F.col("v"), 100).alias("s")).collect()[0]["s"]
    b = df.coalesce(1).agg(dsum(F.col("v"), 100).alias("s")).collect()[0]["s"]
    assert a == b
    # exact-decimal reconstruction: both sides are the correctly-rounded
    # double of the same exact rational sum
    assert a == float(sum(vals))


MESSAGES = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)),  # any non-surrogate
    min_size=0,
    max_size=200,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(MESSAGES, min_size=1, max_size=6))
def test_envelope_codec_roundtrips_arbitrary_text(spark, msgs):
    """The gzip+base64+JSON envelope codec must round-trip ANY unicode
    message (quotes, newlines, emoji, control chars) — the decode path
    can't assume well-behaved log lines."""
    import base64
    import gzip
    import json

    from engine.ingest import decode_envelopes

    payloads = []
    for i, m in enumerate(msgs):
        env = {
            "messageType": "DATA_MESSAGE",
            "owner": str(i),
            "logGroup": "/g",
            "logStream": f"s-{i}",
            "subscriptionFilters": ["f"],
            "logEvents": [{"id": str(i), "timestamp": 1000 + i, "message": m}],
        }
        payloads.append(
            (base64.b64encode(gzip.compress(json.dumps(env).encode())).decode(),)
        )
    df = spark.createDataFrame(payloads, "payload string")
    got = {r["id"]: r["message"] for r in decode_envelopes(df).collect()}
    assert got == {str(i): m for i, m in enumerate(msgs)}


def test_range_join_variants_equivalent(spark):
    """join_range_bucketed must produce exactly join_theta_range's
    rows (same band semantics, different physical shape) — the
    bucketing+residual may never lose or duplicate a pair."""
    import engine

    sf = "/root/testdata/sf0.01"
    theta = {
        tuple(r)
        for r in engine.QUERIES["join_theta_range"](spark, sf)
        .select(
            "l_orderkey", "l_linenumber", "l_extendedprice",
            "p_partkey", "p_retailprice",
        )
        .collect()
    }
    bucketed = [
        tuple(r)
        for r in engine.QUERIES["join_range_bucketed"](spark, sf)
        .select(
            "l_orderkey", "l_linenumber", "l_extendedprice",
            "p_partkey", "p_retailprice",
        )
        .collect()
    ]
    assert len(bucketed) == len(set(bucketed)), "bucketing duplicated pairs"
    assert set(bucketed) == theta


def test_catalog_is_current():
    """CATALOG.md must be regenerated whenever the registry changes."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.gen_catalog import render

    here = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CATALOG.md"
    )
    with open(here) as f:
        assert f.read() == render(), (
            "CATALOG.md is stale — run scripts/gen_catalog.py"
        )


def test_bottom_k_sample_is_mergeable(spark):
    """bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B)) — the
    sketch-merge property that lets per-shard samples union into the
    corpus sample without resampling."""
    from pyspark.sql import functions as F

    import engine
    from engine.ops.textops import BOTTOMK_N
    from engine.registry import table

    sf = "/root/testdata/sf0.01"
    d = table(spark, sf, "documents").select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    half_a = d.filter(F.col("doc_id") % 2 == 0)
    half_b = d.filter(F.col("doc_id") % 2 == 1)
    bk = lambda df: df.orderBy("h", "doc_id").limit(BOTTOMK_N)  # noqa: E731
    merged = {
        tuple(r)
        for r in bk(bk(half_a).unionAll(bk(half_b))).collect()
    }
    direct = {
        tuple(r)
        for r in engine.QUERIES["sample_bottom_k_consistent"](
            spark, sf
        ).collect()
    }
    assert merged == direct


def test_mmr_rank1_is_cosine_argmax_and_lambda1_degenerates(spark):
    """embed_mmr_diversify: the first MMR pick must equal the cosine
    top-1 (no diversity penalty yet), every probe gets MMR_PICKS
    distinct shortlist members, and lambda=1 must reproduce the plain
    cosine order exactly."""
    import engine
    from engine.ops.similarity import MMR_PICKS

    sf = "/root/testdata/sf0.01"
    mmr = engine.QUERIES["embed_mmr_diversify"](spark, sf).toPandas()
    top = engine.QUERIES["sim_search_topk"](spark, sf).toPandas()
    top1 = top[top["rank"] == 1].set_index("q_id")["c_id"].sort_index()
    mmr1 = mmr[mmr.mmr_rank == 1].set_index("q_id")["c_id"].sort_index()
    assert (top1 == mmr1).all()
    assert mmr.groupby("q_id")["c_id"].nunique().eq(MMR_PICKS).all()
    lam1 = engine.QUERIES["embed_mmr_diversify"](spark, sf, lam=1.0).toPandas()
    t5 = top.sort_values(["q_id", "rank"]).groupby("q_id")["c_id"].apply(list)
    m5 = (
        lam1.sort_values(["q_id", "mmr_rank"])
        .groupby("q_id")["c_id"]
        .apply(list)
    )
    assert (t5 == m5).all()


def test_ivf_index_persist_equals_rebuild(spark):
    """sim_index_persist_probe (parquet round-tripped index) must
    reproduce sim_search_ivf (in-memory build) exactly — persistence
    can't change the served answer."""
    import engine

    sf = "/root/testdata/sf0.01"
    served = {
        tuple(r)
        for r in engine.QUERIES["sim_index_persist_probe"](spark, sf).collect()
    }
    rebuilt = {
        tuple(r)
        for r in engine.QUERIES["sim_search_ivf"](spark, sf).collect()
    }
    assert served == rebuilt


def test_lttb_downsample_properties(spark):
    """LTTB pick set: exact size min(n, N_OUT), both endpoints kept,
    every point a member of the original series, timestamps
    non-decreasing within a series."""
    import engine
    from engine.ops.windows import LTTB_N_OUT
    from engine.registry import table
    from pyspark.sql import functions as F
    from tests.conftest import T2_SF_DIR

    out = engine.QUERIES["ts_downsample_lttb"](spark, T2_SF_DIR).toPandas()
    src = (
        table(spark, T2_SF_DIR, "events")
        .select(
            "user_id",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t_us"),
            "value",
        )
        .toPandas()
    )
    src_keys = set(map(tuple, src.to_numpy()))
    for uid, grp in out.groupby("user_id"):
        s = src[src.user_id == uid].sort_values("t_us")
        assert len(grp) == min(len(s), LTTB_N_OUT)
        g = grp.sort_values("t_us")
        assert g.iloc[0].t_us == s.iloc[0].t_us
        assert g.iloc[-1].t_us == s.iloc[-1].t_us
        assert g.t_us.is_monotonic_increasing
    assert set(map(tuple, out.to_numpy())) <= src_keys


def test_bloom_filter_bytes_are_written(spark, tmp_path):
    """The bloom-enabled write must carry the filter in the file: same
    data written with and without parquet.bloom.filter.enabled differs
    by roughly expected_ndv bits (~1 MB at ndv=1M, far above content
    variance)."""
    import glob
    import os

    from engine.registry import table
    from pyspark.sql import functions as F
    from tests.conftest import SMOKE_SF_DIR

    e = table(spark, SMOKE_SF_DIR, "events").select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    off, on = str(tmp_path / "bloom_off"), str(tmp_path / "bloom_on")
    e.write.mode("overwrite").parquet(off)
    (
        e.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#event_id", "true")
        .option("parquet.bloom.filter.expected.ndv#event_id", "1048576")
        .parquet(on)
    )
    sz = lambda d: sum(
        os.path.getsize(f) for f in glob.glob(f"{d}/*.parquet")
    )
    assert sz(on) > sz(off) + 100_000


def test_label_propagation_is_deterministic_component_refinement(spark):
    """LPA invariants: double-run equality (pure function of the edge
    list), every community label is a node of the SAME connected
    component (labels only travel along edges), labels drawn from the
    node id set."""
    import engine
    from tests.conftest import T2_SF_DIR

    a = (
        engine.QUERIES["graph_label_propagation"](spark, T2_SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = (
        engine.QUERIES["graph_label_propagation"](spark, T2_SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert a.equals(b)
    nodes = set(a.doc_id)
    assert set(a.community) <= nodes
    cc = engine.QUERIES["dedup_cluster_cc"](spark, T2_SF_DIR).toPandas()
    comp = cc.set_index("doc_id").cluster_id.to_dict()
    merged = a.merge(cc, on="doc_id")
    assert all(
        comp[r.community] == r.cluster_id for r in merged.itertuples()
    )


def test_price_volume_mix_bridge_identity(spark):
    """Algebraic bridge: volume + price + cross must equal delta_cents
    for every segment (the decomposition's defining identity)."""
    import engine
    from tests.conftest import T2_SF_DIR

    pdf = engine.QUERIES["orders_price_volume_mix"](spark, T2_SF_DIR).toPandas()
    assert len(pdf) > 0
    resid = (
        pdf.volume_eff + pdf.price_eff + pdf.cross_eff - pdf.delta_cents
    ).abs().max()
    assert resid < 1e-4, resid


def test_null_profile_approx_matches_exact_within_rsd(spark):
    """audit_null_profile_approx must agree with the exact twin on
    everything BUT the sketched statistic (null counts and min/max are
    computed identically), and each approx distinct count must land
    within 3x the HLL++ default rsd (5%) of the exact value — the
    bound that keeps the 100 TB form an honest estimator."""
    import engine
    from tests.conftest import T2_SF_DIR

    exact = {
        r["col_name"]: r
        for r in engine.QUERIES["audit_null_profile"](spark, T2_SF_DIR).collect()
    }
    approx = {
        r["col_name"]: r
        for r in engine.QUERIES["audit_null_profile_approx"](
            spark, T2_SF_DIR
        ).collect()
    }
    assert set(exact) == set(approx) and len(exact) == 6
    for col, e in exact.items():
        a = approx[col]
        assert a["n_null"] == e["n_null"]
        assert a["min_str"] == e["min_str"] and a["max_str"] == e["max_str"]
        rel = abs(a["n_distinct"] / e["n_distinct"] - 1.0)
        assert rel <= 0.15, (col, a["n_distinct"], e["n_distinct"])


def test_avro_container_format_properties():
    """Pure-Python OCF layer: round trip preserves records in order,
    the header carries schema+codec, a corrupted sync marker is
    DETECTED (raises), and an unknown field type refuses to decode —
    the format handling is real, not a pickle in disguise."""
    import json

    import pytest

    from engine.ops.ingest_ops import (
        _AvroReader,
        _avro_schema_json,
        _encode_container,
    )

    rows = [
        dict(
            event_id=i,
            ts_micros=1_700_000_000_000_000 + i,
            user_id=i % 7,
            event_type=f"t{i % 3}",
            value=i * 0.125,  # exact binary fractions round-trip
            props='{"k": %d}' % i,
        )
        for i in range(2500)  # > AVRO_BLOCK_RECORDS -> multi-block
    ]
    payload = _encode_container(5, rows)
    assert payload[:4] == b"Obj\x01"
    got = list(_AvroReader(payload).records())
    assert got == rows
    schema = json.loads(_avro_schema_json())
    assert [f["name"] for f in schema["fields"]][0] == "event_id"
    bad = bytearray(payload)
    bad[-1] ^= 0xFF  # flip a byte of the final block's sync marker
    with pytest.raises(ValueError, match="sync marker"):
        list(_AvroReader(bytes(bad)).records())
    # spec-valid NEGATIVE metadata block count (abs count preceded by a
    # byte size) from an external writer must decode identically
    from engine.ops.ingest_ops import _zz_long

    head_end = payload.index(b"\x00", 4)  # metadata terminator
    body = payload[5:head_end]  # the two entries, minus count byte
    neg = (
        payload[:4]
        + _zz_long(-2)
        + _zz_long(len(body))
        + body
        + payload[head_end:]
    )
    assert list(_AvroReader(neg).records()) == rows


@given(
    st.lists(st.integers(0, 3), min_size=1, max_size=800),
)
@settings(max_examples=150, deadline=None)
def test_lzw_roundtrip_any_stream(seq):
    """∀ index streams: GIF-flavor LZW compress→decompress is the
    identity (covers code-width growth and the KwKwK case by volume)."""
    from engine.ops.multimodal import _lzw_compress, _lzw_decompress

    assert _lzw_decompress(_lzw_compress(seq, 2), 2) == seq


@given(
    st.integers(1, 12),
    st.integers(1, 8),
    st.lists(st.integers(0, 255), min_size=1),
)
@settings(max_examples=120, deadline=None)
def test_png_unfilter_inverts_filter_any_row(w, f_mod, row_vals):
    """∀ scanlines and filter types: PNG unfilter inverts filter given
    the same previous row — the per-filter algebra, not just the
    fixture's schedule."""
    from engine.ops.multimodal import _png_filter_row, _png_unfilter_row

    row = bytes(row_vals[: 3 * w]).ljust(3 * w, b"\x01")
    prev = bytes((v * 7 + 3) % 256 for v in range(3 * w))
    f = f_mod % 5
    assert _png_unfilter_row(f, _png_filter_row(f, row, prev), prev) == row


@given(st.lists(st.integers(0, 2**31), min_size=1, max_size=200))
@settings(max_examples=100, deadline=None)
def test_netflow_roundtrip_any_ids(ids):
    """∀ flow-id multisets (as distinct ids): the NetFlow v5 packetizer
    and reader round-trip every field, regardless of how many packets
    the 30-record limit forces."""
    import pandas as pd

    from engine.ops.flow import (
        _netflow_decode_batches,
        _netflow_encode_group,
    )

    ids = sorted(set(ids))
    pdf = pd.DataFrame({"event_id": ids, "shard_id": [0] * len(ids)})
    blob = _netflow_encode_group(pdf)
    out = pd.concat(list(_netflow_decode_batches(iter([blob]))))
    assert sorted(out["event_id"]) == ids
    assert list(out["d_pkts"]) == [i % 1000 + 1 for i in sorted(ids)]
    assert list(out["d_octets"]) == [i * i % 1000000 for i in sorted(ids)]


def test_netflow_rejects_ids_past_32bit():
    """ids at/past the 32-bit First/Last encoding boundary fail loudly
    instead of silently aliasing through % 2**32 (ADVICE r7)."""
    import pandas as pd
    import pytest as _pytest

    from engine.ops.flow import _netflow_encode_group

    for bad_id in (2**32, 2**32 - 1):  # 2**32-1 wraps via + (id % 50000)
        pdf = pd.DataFrame({"event_id": [1, bad_id], "shard_id": [0, 0]})
        with _pytest.raises(ValueError, match="overflows the NetFlow"):
            _netflow_encode_group(pdf)
    # a near-boundary id with headroom still encodes
    ok = 2**32 - 100_000  # i + i % 50000 = i + 17296 < 2**32
    pdf = pd.DataFrame({"event_id": [ok], "shard_id": [0]})
    assert len(_netflow_encode_group(pdf)["blob"].iloc[0]) > 0
