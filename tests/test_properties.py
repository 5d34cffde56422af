"""Property-based hardening (hypothesis) of the pure-Python planner
kernels — the pieces with reference-pinned rounding/edge semantics that
golden cases alone can miss. No Spark session needed; runs in ms."""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from spark_eventhubs_spark.connstr import ConnectionStringBuilder
from spark_eventhubs_spark.position import EventPosition
from spark_eventhubs_spark.sources.datasource import EventHubsStreamReader
from spark_eventhubs_spark.streaming.ratelimit import rate_limit

# --- rate_limit invariants (ref EventHubsSource.scala:263-319) ---

partitions = st.dictionaries(
    st.integers(0, 31),
    st.tuples(st.integers(0, 10_000), st.integers(0, 10_000)),
    min_size=1,
    max_size=32,
)


@settings(max_examples=300, deadline=None)
@given(parts=partitions, limit=st.integers(1, 1_000_000))
def test_rate_limit_bounds(parts, limit):
    from_seq = {pid: min(a, b) for pid, (a, b) in parts.items()}
    until_seq = {pid: max(a, b) for pid, (a, b) in parts.items()}
    out = rate_limit(limit, from_seq, until_seq, {})
    total_backlog = sum(until_seq[p] - from_seq[p] for p in parts)
    for pid in parts:
        # never before begin, never past end
        assert from_seq[pid] <= out[pid] <= until_seq[pid]
        # a non-empty partition is never starved (ceil guarantee)
        if until_seq[pid] > from_seq[pid] and total_backlog >= 1:
            assert out[pid] > from_seq[pid]
    # admission respects the cap (+1 per partition ceil slack)
    taken = sum(out[p] - from_seq[p] for p in parts)
    if total_backlog >= 1:
        assert taken <= limit + len(parts)


@settings(max_examples=100, deadline=None)
@given(parts=partitions)
def test_rate_limit_huge_cap_takes_everything(parts):
    from_seq = {pid: min(a, b) for pid, (a, b) in parts.items()}
    until_seq = {pid: max(a, b) for pid, (a, b) in parts.items()}
    out = rate_limit(10**12, from_seq, until_seq, {})
    assert out == until_seq


@settings(max_examples=100, deadline=None)
@given(parts=partitions, limit=st.integers(1, 100))
def test_rate_limit_zero_factor_freezes_partition(parts, limit):
    from_seq = {pid: min(a, b) for pid, (a, b) in parts.items()}
    until_seq = {pid: max(a, b) for pid, (a, b) in parts.items()}
    factors = {pid: 0.0 for pid in parts}
    out = rate_limit(limit, from_seq, until_seq, {}, factors)
    for pid in parts:
        # factor 0 -> prorate 0 -> ceil(0)=0: stays at begin
        assert out[pid] == min(from_seq[pid], until_seq[pid]) or out[pid] == from_seq[pid]


# --- stream offset JSON (ref JsonUtils.scala:63-100) ---

@settings(max_examples=200, deadline=None)
@given(
    name=st.text(st.characters(codec="ascii", exclude_characters="/\x00"), min_size=1, max_size=10),
    seq_nos=st.dictionaries(st.integers(0, 255), st.integers(0, 2**62), min_size=1, max_size=8),
)
def test_offset_json_roundtrip(name, seq_nos):
    """The stream reader's offsets survive the JSON text Spark keeps in
    its checkpoint offset log, keyed by the hub name."""
    reader = EventHubsStreamReader({"path": "/tmp/hubs/" + name})
    off = json.loads(json.dumps(reader._pack(seq_nos)))
    assert list(off) == [name]
    assert reader._unpack(off) == seq_nos


# --- EventPosition JSON (ref EventPosition.scala) ---

@settings(max_examples=200, deadline=None)
@given(seq=st.integers(0, 2**62), inclusive=st.booleans())
def test_position_seqno_roundtrip(seq, inclusive):
    p = EventPosition.from_sequence_number(seq, inclusive)
    assert EventPosition.from_json(p.to_json()) == p


# --- connection string build/parse (ref ConnectionStringBuilder.scala) ---

@settings(max_examples=200, deadline=None)
@given(
    # printable ascii minus separators: parse() trims like the
    # reference's String.trim, so whitespace/control chars are out
    name=st.text(
        st.characters(codec="ascii", min_codepoint=33, exclude_characters=";="),
        min_size=1,
        max_size=20,
    ),
)
def test_connstr_roundtrip_entity_path(name):
    base = ConnectionStringBuilder.parse(
        "Endpoint=sb://test.servicebus.windows.net/;SharedAccessKeyName=k;"
        "SharedAccessKey=secret;EntityPath=placeholder"
    )
    s = base.set_event_hub_name(name).build()
    assert ConnectionStringBuilder.parse(s).entity_path == name


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=" \t\nabcdeABC0.!",
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_poly_shingle_hashes_match_duckdb(texts):
    """The shared kernel primitive (tokenize -> unique-token md5 ->
    polynomial k-gram combination) must agree with its DuckDB CTE twin
    on arbitrary text — the invariant every dedup oracle rests on."""
    import duckdb

    from spark_eventhubs_spark.functions.hashing import poly_shingle_hashes_py
    from spark_eventhubs_spark.operators.dedup import oracle_token_poly_cte

    got = {
        i: sorted(h.tolist())
        for i, h in enumerate(poly_shingle_hashes_py(texts, 3))
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(texts))
    )
    rows = con.sql(
        oracle_token_poly_cte(3) + " SELECT doc_id, hp FROM hashed"
    ).fetchall()
    want = {}
    for doc_id, hp in rows:
        want.setdefault(doc_id, []).append(hp)
    want = {k: sorted(v) for k, v in want.items()}
    assert got == want


# --- Misra-Gries summary guarantee (operators/text._mg_summary_fn) ---

token_streams = st.lists(
    st.lists(st.sampled_from([f"t{i}" for i in range(40)]), max_size=200),
    min_size=1,
    max_size=6,
)


@settings(max_examples=200, deadline=None)
@given(batches=token_streams, k=st.integers(2, 30))
def test_mg_summary_superset_guarantee(batches, k):
    """For ANY token stream, ANY batch split, and ANY summary size k,
    the kernel's survivors must be a superset of every token whose
    total count exceeds N/(k+1) — the Misra-Gries bound the two-pass
    heavy-hitters operator relies on."""
    import pandas as pd

    from spark_eventhubs_spark.operators.text import _mg_summary_fn

    fn = _mg_summary_fn(k, "token")
    out = list(fn(pd.DataFrame({"token": b}) for b in batches))
    survivors = {t for pdf in out for t in pdf["token"]}
    assert len(survivors) <= 2 * k  # bounded memory

    from collections import Counter

    counts = Counter(t for b in batches for t in b)
    n = sum(counts.values())
    for tok, c in counts.items():
        if c > n / (k + 1):
            assert tok in survivors, (tok, c, n, k)


# --- netpbm decode round-trip (operators/multimodal) ---


@settings(max_examples=100, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    ch=st.sampled_from([1, 3]),
    seed=st.integers(0, 2**31 - 1),
    comment=st.booleans(),
)
def test_netpbm_roundtrip(w, h, ch, seed, comment):
    import numpy as np

    from spark_eventhubs_spark.operators.multimodal import decode_netpbm

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (h, w, ch)).astype("u1")
    magic = b"P5" if ch == 1 else b"P6"
    hdr = b"%s\n" % magic
    if comment:
        hdr += b"# synthetic\n"
    hdr += b"%d %d\n255\n" % (w, h)
    got = decode_netpbm(hdr + img.tobytes())
    assert got.shape == (h, w, ch)
    assert (got == img).all()


# --- BMP encode/decode round-trip (operators/multimodal) ---
@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    top_down=st.booleans(),
)
def test_bmp_roundtrip(w, h, seed, top_down):
    """Any RGB image survives encode_bmp -> decode_bmp exactly; the
    top-down (negative height) variant decodes to the same pixels."""
    import struct

    import numpy as np

    from spark_eventhubs_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    payload = encode_bmp(img)
    if top_down:
        row = (w * 3 + 3) & ~3
        raster = payload[54:]
        flipped = b"".join(
            raster[y * row : (y + 1) * row] for y in range(h - 1, -1, -1)
        )
        buf = bytearray(payload[:54] + flipped)
        struct.pack_into("<i", buf, 22, -h)
        payload = bytes(buf)
    assert (decode_bmp(payload) == img).all()


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=9),
    nf=st.integers(min_value=1, max_value=6),
    rate=st.integers(min_value=1, max_value=60),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_avi_roundtrip(w, h, nf, rate, seed):
    """Any frame stack survives encode_avi -> _decode_avi with exact
    container metadata and the exact integer BT.601 luma the decoder
    contracts (row padding, bottom-up BGR, chunk word-alignment all
    exercised by odd widths)."""
    import numpy as np

    from spark_eventhubs_spark.operators.multimodal import (
        _decode_avi,
        encode_avi,
    )

    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for _ in range(nf)
    ]
    d = _decode_avi(encode_avi(frames, rate=rate, scale=1))
    lsum = sum(
        299 * int(f[:, :, 0].astype(np.int64).sum())
        + 587 * int(f[:, :, 1].astype(np.int64).sum())
        + 114 * int(f[:, :, 2].astype(np.int64).sum())
        for f in frames
    )
    assert d == {
        "n_frames": nf,
        "duration_ms": nf * 1000 // rate,
        "width": w,
        "height": h,
        "fps_e3": rate * 1000,
        "mean_luma_e2": lsum * 100 // (1000 * nf * w * h),
    }


# ---------------------------------------------------------------------
# round-7: RIFF/video magic dispatch, footer-stat memo invalidation
# ---------------------------------------------------------------------

@given(payload=st.binary(min_size=0, max_size=64))
def test_image_and_video_magic_dispatch_is_disjoint_and_total(payload):
    """No payload is both a video container and a PIL-codec image;
    RIFF subtypes route exactly one way (WEBP -> image codecs,
    AVI -> video, anything else RIFF -> neither); decode_image on a
    RIFF non-WEBP always diagnoses rather than claiming PIL."""
    from spark_eventhubs_spark.operators import multimodal as M

    is_vid = M.is_video_container(payload)
    is_webp = M._is_webp(payload)
    assert not (is_vid and is_webp)
    if payload[:4] == b"RIFF":
        if payload[8:12] == b"WEBP":
            assert is_webp and not is_vid
        elif payload[8:12] == b"AVI ":
            assert is_vid and not is_webp
        else:
            assert not is_vid and not is_webp
            try:
                M.decode_image(payload)
                assert False, "RIFF non-WEBP must not decode as image"
            except ValueError as e:
                assert "decode_wav" in str(e)
            except NotImplementedError:
                assert False, "RIFF non-WEBP must not hit the PIL guard"


def test_rg_stats_cache_invalidates_on_rewrite(tmp_path):
    """The planner footer memo must serve stale stats NEVER: same
    path, new file content (different mtime/size) -> fresh stats."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from spark_eventhubs_spark.sources import datasource as DS

    p = str(tmp_path / "f.parquet")
    papq.write_table(pa.table({"sequenceNumber": list(range(10))}), p)
    first = DS._rg_stats(p, "sequenceNumber")
    assert first[0][1] == 10 and int(first[0][3]) == 9
    assert DS._rg_stats(p, "sequenceNumber") is first  # memo hit
    import os
    import time as _t

    _t.sleep(0.01)  # ensure mtime_ns differs even on coarse clocks
    papq.write_table(pa.table({"sequenceNumber": list(range(25))}), p)
    os.utime(p)  # force a fresh mtime
    second = DS._rg_stats(p, "sequenceNumber")
    assert second[0][1] == 25 and int(second[0][3]) == 24
