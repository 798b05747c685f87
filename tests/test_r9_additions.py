"""Round-9 regression pins for the ADVICE r08 fixes.

1. Exact decimal floor division: Spark DECIMAL(38,0)/DECIMAL(38,0) is
   adjusted to DECIMAL(38,6) with HALF_UP rounding, so floor(a/b) rounds a
   true quotient within 5e-7 below an integer UP before flooring — one high
   vs DuckDB's exact HUGEINT //. The (a - pmod(a, b)) / b idiom used by
   cramers_v_matrix must floor exactly at that boundary.
"""

from __future__ import annotations


def test_decimal_floor_division_exact_at_rounding_boundary(spark):
    """a = 3*b - 1 with b = 10^7: a/b = 2.9999999, which DECIMAL(38,6)
    HALF_UP rounds to 3.000000 so floor(a/b) = 3 (wrong); the exact idiom
    must yield 2, and agree with Python's // on a boundary sweep."""
    rows = [(3 * 10_000_000 - 1, 10_000_000)]
    # sweep more boundary shapes: just-below, exact multiple, just-above
    for b in (10_000_000, 123_456_789, 10**15 + 7):
        for q in (1, 7, 10**9):
            for off in (-1, 0, 1):
                a = q * b + off
                if 0 <= a < 2**63:
                    rows.append((a, b))
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.selectExpr(
        "a",
        "b",
        "CAST(floor(CAST(a AS DECIMAL(38,0)) / CAST(b AS DECIMAL(38,0)))"
        " AS BIGINT) AS floored",
        "CAST((CAST(a AS DECIMAL(38,0)) - pmod(CAST(a AS DECIMAL(38,0)),"
        " CAST(b AS DECIMAL(38,0)))) / CAST(b AS DECIMAL(38,0))"
        " AS BIGINT) AS exact_div",
    ).collect()
    mismatch_seen = False
    for r in got:
        assert r["exact_div"] == r["a"] // r["b"], (r["a"], r["b"])
        if r["floored"] != r["a"] // r["b"]:
            mismatch_seen = True  # the bug the idiom exists to avoid
    assert mismatch_seen, (
        "expected floor(a/b) to be wrong for a=29999999, b=1e7 — if Spark "
        "now divides exactly, the idiom (and this pin) can be simplified"
    )


def test_cramers_v_term_micro_boundary(spark, tmp_path):
    """End-to-end pin on the cramers_v_matrix arithmetic shape: a
    contingency cell engineered so (o*n - ra*cb)^2 / (ra*cb) lands within
    5e-7 below an integer must produce the floor, not the round-up."""
    from pyspark.sql import functions as F

    # d^2 / dn = (17*dn - 1) / dn boundary: d = 10^4 gives
    # d^2 + 1 = 100000001 = 17 * 5882353, so with dn = 5882353 the true
    # quotient is 16.99999983 — HALF_UP at 6 decimals would round to 17.
    d = 10_000
    dn = (d * d + 1) // 17
    df = spark.createDataFrame([(d, dn)], "d long, dn long")
    got = df.select(
        F.expr(
            "CAST((CAST(d AS DECIMAL(38,0)) * d"
            " - pmod(CAST(d AS DECIMAL(38,0)) * d,"
            "        CAST(dn AS DECIMAL(38,0))))"
            " / CAST(dn AS DECIMAL(38,0)) AS BIGINT) AS q"
        )
    ).collect()[0]
    assert got["q"] == (d * d) // dn == 16


def test_png_roundtrip_all_filters_and_rgb():
    """encode->decode must be the identity for gray and RGB images tall
    enough that every filter type (row % 5) appears, across awkward
    widths (1 px = filter byte dominant; bpp-boundary widths)."""
    import hashlib

    from uk_procurement_data_pipeline_spark.functions import png

    def det_bytes(seed: str, n: int) -> bytes:
        out = bytearray()
        i = 0
        while len(out) < n:
            out.extend(hashlib.sha256(f"{seed}:{i}".encode()).digest())
            i += 1
        return bytes(out[:n])

    for color_type, ch in ((0, 1), (2, 3)):
        for w in (1, 2, 3, 7, 32):
            for h in (1, 5, 13):
                rows = [
                    det_bytes(f"{color_type}/{w}x{h}/{y}", w * ch)
                    for y in range(h)
                ]
                data = png.encode_png(rows, w, color_type)
                dw, dh, dch, drows = png.decode_png(data)
                assert (dw, dh, dch) == (w, h, ch)
                assert drows == rows, (color_type, w, h)


def test_png_decode_rejects_corruption_and_unsupported():
    import struct

    import pytest

    from uk_procurement_data_pipeline_spark.functions import png

    good = png.encode_png([b"\x01\x02", b"\x03\x04"], 2)
    with pytest.raises(ValueError, match="signature"):
        png.decode_png(b"NOTPNG" + good)
    # flip one IDAT byte -> CRC failure
    idat_at = good.index(b"IDAT") + 4
    bad = bytearray(good)
    bad[idat_at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        png.decode_png(bytes(bad))
    # 16-bit depth rejected by name
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    deep = png.SIGNATURE + png._chunk(b"IHDR", ihdr) + png._chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="bit depth"):
        png.decode_png(deep)
    with pytest.raises(ValueError, match="IEND"):
        png.decode_png(good[:-12])


def test_decode_media_default_decoder_handles_png(spark):
    """VERDICT r08 item 4 'done' criterion: decode_media's DEFAULT decoder
    no longer raises for PNG payloads — it returns true dimensions; and
    still raises NotImplementedError for non-PNG media."""
    import pytest

    from uk_procurement_data_pipeline_spark.functions import png
    from uk_procurement_data_pipeline_spark.queries.multimodal import (
        decode_media,
        real_decoder,
    )

    payload = png.encode_png([bytes([y * 7 + x]) for y in range(4) for x in [0]], 1)
    # direct seam: a 1x4 gray PNG
    assert real_decoder(1, payload) == (1, 4, 1)
    with pytest.raises(NotImplementedError):
        real_decoder(1, b"\xff\xd8\xff\xe0 jpeg-ish bytes")
    # through the Spark stage with the DEFAULT decoder
    assets = spark.createDataFrame([(7, bytearray(payload))],
                                   "doc_id long, payload binary")
    rows = decode_media(assets).collect()
    assert [(r["doc_id"], r["width"], r["height"], r["n_frames"])
            for r in rows] == [(7, 1, 4, 1)]


def test_fellegi_banded_drops_only_the_all_disagree_pattern(spark, sf_dir):
    """fellegi_sunter_banded's exactness claim: the (nation, band) and
    (nation, segment) passes jointly see every pair except pattern
    (0,0,0) — because dollar_agree=1 implies band_agree=1 (a $1 floor
    interval cannot straddle a $1000 boundary), every other pattern has
    seg_agree=1 or band_agree=1 and therefore appears in a pass. So the
    banded histogram must equal the full nation-blocked histogram minus
    exactly the (0,0,0) row, and that row must classify 'non-link'."""
    from uk_procurement_data_pipeline_spark.queries.evaluation import (
        fellegi_sunter_banded,
        fellegi_sunter_linkage,
    )

    full = {
        (r["seg_agree"], r["band_agree"], r["dollar_agree"]): (
            r["n_pairs"],
            r["weight_micro"],
            r["decision"],
        )
        for r in fellegi_sunter_linkage(spark, sf_dir).collect()
    }
    banded = {
        (r["seg_agree"], r["band_agree"], r["dollar_agree"]): (
            r["n_pairs"],
            r["weight_micro"],
            r["decision"],
        )
        for r in fellegi_sunter_banded(spark, sf_dir).collect()
    }
    assert (0, 1, 0) in full or (1, 1, 0) in full  # fixture non-trivial
    dropped = set(full) - set(banded)
    assert dropped <= {(0, 0, 0)}
    if (0, 0, 0) in full:
        assert full[(0, 0, 0)][2] == "non-link"
    for pat, row in banded.items():
        assert full[pat] == row, pat
    # the impossible pattern: dollar agreement without band agreement
    assert (0, 0, 1) not in full and (1, 0, 1) not in full


def test_ttl_stream_head_break_with_multiple_chains_in_one_batch(spark, tmp_path):
    """Regression for the r09 vectorized sessionizer: when the stored
    session closes at the HEAD of a batch (first event already > end+gap)
    AND the same batch contains further gap-separated chains, chain
    boundaries must come from breaks at i >= 1 only — treating the head
    break as a boundary fabricated a degenerate [0, -1] chain (start =
    first event, end = LAST event, n = 0) and shifted every session. The
    DuckDB oracle caught it (627 vs 578 rows at sf0.001); this pins the
    exact shape through the real query path."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from uk_procurement_data_pipeline_spark.queries.base import registry

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    ts = []
    # batch 1 (rows 0-199): session A, 1-minute spacing
    for i in range(200):
        ts.append(t0 + dt.timedelta(minutes=i))
    # batch 2 (rows 200-399), all >6h-gap-separated chains:
    b_start = ts[-1] + dt.timedelta(hours=7)  # head break closes A
    for i in range(100):
        ts.append(b_start + dt.timedelta(minutes=i))  # session B
    c_start = ts[-1] + dt.timedelta(hours=7)
    for i in range(99):
        ts.append(c_start + dt.timedelta(minutes=i))  # session C
    ts.append(ts[-1] + dt.timedelta(hours=7))  # session D: stays open
    table = pa.table(
        {
            "event_id": pa.array(list(range(400)), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([1] * 400, pa.int64()),
            "event_type": pa.array(["view"] * 400),
            "value": pa.array([1.0] * 400),
            "props": pa.array(["{}"] * 400),
        }
    )
    out = tmp_path / "headbrk"
    out.mkdir()
    pq.write_table(table, str(out / "events.parquet"))
    got = registry()["stream_session_ttl_close"].fn(spark, str(out)).collect()

    def us(x):
        return int(x.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    sessions = sorted(
        (r["start_micro"], r["end_micro"], r["n_events"]) for r in got
    )
    assert sessions == [
        (us(ts[0]), us(ts[199]), 200),  # A: closed by the head break
        (us(ts[200]), us(ts[299]), 100),  # B
        (us(ts[300]), us(ts[398]), 99),  # C
        # D (1 event) stays open: timeout = end+6h > final wm = max_ts-1h
    ]


def test_fingerprints_immune_to_warm_process_cache_state():
    """r09 regression: catalog._NANOS_PROBE_CACHE and catalog._SCHEMA_CACHE
    (per-session memos) sit inside every query's static call closure via
    load(); computing fingerprints IN-PROCESS after queries have run hashed
    the mutated cache and spuriously drifted 288 queries. changed_queries
    must compute in a fresh interpreter, so poking the caches here must not
    change its answer."""
    from pyspark.sql.types import StructType

    from tools.fingerprints import changed_queries
    from tools.regen_coverage import _all_checked
    from uk_procurement_data_pipeline_spark import catalog

    green = _all_checked()
    before = changed_queries(green)
    probe_key = ("test-app", "/tmp/poked.parquet")
    schema_key = ("test-app", "/tmp/poked.parquet", 0, 0)
    catalog._NANOS_PROBE_CACHE[probe_key] = True
    catalog._SCHEMA_CACHE[schema_key] = StructType([])
    try:
        after = changed_queries(green)
    finally:
        catalog._NANOS_PROBE_CACHE.pop(probe_key)
        catalog._SCHEMA_CACHE.pop(schema_key)
    assert before == after
