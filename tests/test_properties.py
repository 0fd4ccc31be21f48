"""Property-based tests (hypothesis) for the pure column-expression
function library — the pieces every dedup/similarity operator builds on.
Each example round-trips through a real Spark job, so example counts are
kept small; the properties (not the volume) carry the weight."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from akkastreamprocessnpmpackagedependencies_spark.functions.text import (
    char_shingles,
    minhash_affine,
    base_hashes,
    word_shingles,
)
from akkastreamprocessnpmpackagedependencies_spark.functions.vector import cosine

_settings = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)

_words = st.lists(st.text(alphabet="abcdefg", min_size=1, max_size=4), min_size=1, max_size=12)


@given(ws=_words)
@_settings
def test_word_shingles_match_python_set(spark, ws):
    text = " ".join(ws)
    [row] = (
        spark.createDataFrame([(text,)], "text string")
        .select(word_shingles(F.col("text")).alias("sh"))
        .collect()
    )
    n = len(ws)
    if n >= 3:
        want = {" ".join(ws[i : i + 3]) for i in range(n - 2)}
    else:
        want = {" ".join(ws)}
    assert set(row.sh) == want


@given(s=st.text(alphabet="abcdef ", min_size=1, max_size=24))
@_settings
def test_char_shingles_match_python_set(spark, s):
    [row] = (
        spark.createDataFrame([(s,)], "text string")
        .select(char_shingles(F.col("text")).alias("g"))
        .collect()
    )
    want = {s[i : i + 4] for i in range(len(s) - 3)} if len(s) >= 4 else {s}
    assert set(row.g) == want


@given(ws=_words)
@_settings
def test_minhash_is_order_invariant_and_monotone(spark, ws):
    """The minhash of a shingle SET must not depend on token-set order, and
    adding shingles can only lower (never raise) the min."""
    text = " ".join(ws)
    df = spark.createDataFrame([(text,)], "text string")
    sig = df.select(
        *[
            minhash_affine(base_hashes(word_shingles(F.col("text"))), h).alias(f"m{h}")
            for h in range(4)
        ]
    )
    [a] = sig.collect()
    # reversed token order changes the shingle LIST but the min over any
    # superset-equal base set of a permuted text's own shingles is stable
    [b] = (
        spark.createDataFrame([(text,)], "text string")
        .select(
            *[
                minhash_affine(
                    F.reverse(base_hashes(word_shingles(F.col("text")))), h
                ).alias(f"m{h}")
                for h in range(4)
            ]
        )
        .collect()
    )
    assert tuple(a) == tuple(b)
    extended = " ".join(ws + ["zz"])
    [c] = (
        spark.createDataFrame([(extended,)], "text string")
        .select(
            *[
                minhash_affine(base_hashes(word_shingles(F.col("text"))), h).alias(f"m{h}")
                for h in range(4)
            ]
        )
        .collect()
    )
    if len(ws) >= 3:  # extension adds shingles without removing any
        for got, prev in zip(tuple(c), tuple(a)):
            assert got <= prev


@given(
    v=st.lists(st.floats(min_value=-10, max_value=10, allow_nan=False), min_size=4, max_size=8)
)
@_settings
def test_cosine_self_similarity(spark, v):
    import math

    if math.sqrt(sum(x * x for x in v)) < 1e-6:
        return
    df = spark.createDataFrame([(v, v)], "a array<double>, b array<double>")
    [row] = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()
    assert abs(row.c - 1.0) < 1e-9


@given(
    toks=st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=20),
    gap=st.integers(min_value=1, max_value=3000),
    budget=st.sampled_from([1, 7, 128]),
)
@_settings
def test_pack_token_counts_matches_serial_chunking(spark, toks, gap, budget):
    """The sharded prefix sum must equal the serial concat-then-chunk walk
    for ANY id spacing (gapped ids exercise empty shards and shard
    boundaries) and any budget, including docs many budgets long.
    n_tokens >= 1 is the operator's domain: split() never yields an empty
    token list, in either engine."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.quality import (
        pack_token_counts,
    )

    ids = [i * gap for i in range(len(toks))]
    df = spark.createDataFrame(
        list(zip(ids, toks)), "doc_id long, n_tokens long"
    )
    got = {
        r.doc_id: (r.start_seq, r.start_offset, r.end_seq)
        for r in pack_token_counts(df, budget=budget, shard_size=4).collect()
    }
    cum = 0
    for i, n in zip(ids, toks):
        assert got[i] == (cum // budget, cum % budget, (cum + n - 1) // budget)
        cum += n


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)), min_size=1, max_size=40
    )
)
@_settings
def test_cc_alternating_star_matches_union_find(spark, edges):
    """Alternating large-star/small-star equals a serial union-find on
    arbitrary graphs (self-loops, duplicate and reversed edges included):
    every node labels to its component minimum."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.dedup import (
        cc_alternating_star,
    )

    real = [(a, b) for a, b in edges if a != b]
    if not real:
        return
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        parent[find(a)] = find(b)
    want = {}
    comp_min: dict[int, int] = {}
    for n in parent:
        comp_min[find(n)] = min(comp_min.get(find(n), n), n)
    for n in parent:
        want[n] = comp_min[find(n)]

    pairs = spark.createDataFrame(real, "doc_a long, doc_b long")
    # both execution paths must match the serial reference: the default
    # gate routes these tiny graphs through the driver union-find fast
    # path; driver_max_edges=0 forces the distributed alternating-star
    labels, fast_rounds = cc_alternating_star(pairs)
    assert fast_rounds == 0
    got = {r.id: r.lbl for r in labels.collect()}
    assert got == want
    dist_labels, dist_rounds = cc_alternating_star(pairs, driver_max_edges=0)
    assert dist_rounds >= 1
    assert {r.id: r.lbl for r in dist_labels.collect()} == want


# ---- event-sequence operators vs serial references ----------------------

_event_seqs = st.lists(  # per-user sequences of (minute_offset, type_idx, value)
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=2),
            st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
        ),
        min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=4,
)


def _write_events(spark, rows):
    import tempfile

    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(f"{d}/events.parquet")
    return d


@given(seqs=_event_seqs)
@_settings
def test_scd2_intervals_match_serial_compression(spark, seqs):
    """scd2_user_tiers must equal the obvious serial run-length
    compression of each user's tier sequence (unique timestamps per user
    — the operator's defined-behavior domain)."""
    import datetime as dt

    from akkastreamprocessnpmpackagedependencies_spark.operators.timeseries import (
        VALUE_TIER_EDGE,
        scd2_user_tiers,
    )

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    serial = {}
    for u, seq in enumerate(seqs):
        seen = {}
        for off, _, v in seq:
            seen[off] = v  # dedupe timestamps per user, last wins
        ordered = sorted(seen.items())
        rows += [
            (eid + i, base + dt.timedelta(minutes=off), u, "view", v, "{}")
            for i, (off, v) in enumerate(ordered)
        ]
        eid += len(ordered)
        tiers = ["high" if v > VALUE_TIER_EDGE else "low" for _, v in ordered]
        runs = []
        for (off, _), t in zip(ordered, tiers):
            ts = base + dt.timedelta(minutes=off)
            if runs and runs[-1][0] == t:
                runs[-1][2] += 1
            else:
                runs.append([t, ts, 1])
        serial[u] = runs
    d = _write_events(spark, rows)
    got = {}
    for r in scd2_user_tiers(spark, d).collect():
        got.setdefault(r.user_id, []).append(r)
    assert set(got) == set(serial)
    for u, runs in serial.items():
        g = sorted(got[u], key=lambda r: r.version)
        assert [r.version for r in g] == list(range(1, len(runs) + 1))
        for r, (tier, start, n), i in zip(g, runs, range(len(runs))):
            assert (r.tier, r.valid_from, r.n_events) == (tier, start, n)
            want_to = runs[i + 1][1] if i + 1 < len(runs) else None
            assert r.valid_to == want_to


@given(seqs=_event_seqs)
@_settings
def test_funnel_counts_match_serial_scan(spark, seqs):
    """events_funnel_conversion must equal the serial per-user scan:
    first view, first click strictly after it, first purchase strictly
    after that."""
    import datetime as dt

    from akkastreamprocessnpmpackagedependencies_spark.operators.timeseries import (
        events_funnel_conversion,
    )

    types = ["view", "click", "purchase"]
    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    s1 = s2 = s3 = 0
    for u, seq in enumerate(seqs):
        evs = sorted((off, types[t]) for off, t, _ in seq)
        rows += [
            (eid + i, base + dt.timedelta(minutes=off), u, t, 0.0, "{}")
            for i, (off, t) in enumerate(evs)
        ]
        eid += len(evs)
        t1 = min((o for o, t in evs if t == "view"), default=None)
        if t1 is None:
            continue
        s1 += 1
        t2 = min((o for o, t in evs if t == "click" and o > t1), default=None)
        if t2 is None:
            continue
        s2 += 1
        if any(t == "purchase" and o > t2 for o, t in evs):
            s3 += 1
    d = _write_events(spark, rows)
    got = {r.stage: r.n_users for r in events_funnel_conversion(spark, d).collect()}
    assert got == {1: s1, 2: s2, 3: s3}


@given(
    st.lists(
        st.tuples(st.integers(0, 0xFFFF), st.integers(0, 0xFFFF)),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=30, deadline=None)
def test_morton_key_matches_bit_interleave(spark, xys):
    """The shift/mask cascade must equal the literal per-bit interleave,
    and the key must be monotone under the curve's locality property
    (equal prefixes => nearby cells share high bits)."""
    from akkastreamprocessnpmpackagedependencies_spark.functions.layout import morton_key

    def serial(x: int, y: int) -> int:
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(xys, "x long, y long").select(
        "x", "y", morton_key(F.col("x"), F.col("y")).alias("z")
    )
    for r in df.collect():
        assert r.z == serial(r.x, r.y), (r.x, r.y)


def test_scd2_same_timestamp_runs_close_deterministically(spark):
    """Two same-ts events of different tiers produce two runs with equal
    valid_from; the closing lead() orders by run_id (strictly increasing),
    so run 1 closes at the shared timestamp and run 2 stays current —
    ordering by valid_from alone would leave that tie engine-arbitrary."""
    import datetime as dt

    from akkastreamprocessnpmpackagedependencies_spark.operators.timeseries import (
        VALUE_TIER_EDGE,
        scd2_user_tiers,
    )

    t = dt.datetime(2024, 3, 1, 12, 0)
    lo, hi = VALUE_TIER_EDGE - 1, VALUE_TIER_EDGE + 1
    rows = [
        (1, t, 7, "view", lo, "{}"),
        (2, t, 7, "view", hi, "{}"),  # same ts, tier flips on event_id order
        (3, t + dt.timedelta(hours=1), 7, "view", hi, "{}"),
    ]
    d = _write_events(spark, rows)
    got = sorted(scd2_user_tiers(spark, d).collect(), key=lambda r: r.version)
    assert [(r.version, r.tier, r.valid_from, r.valid_to, r.n_events) for r in got] == [
        (1, "low", t, t, 1),
        (2, "high", t, None, 2),
    ]


# printable-ASCII fuzz alphabet for the normalization parity property:
# the document fixtures are ASCII, and the shared norm chain's contract
# is defined over ASCII character classes (see functions/text.py)
_ascii = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
    min_size=0,
    max_size=60,
)


@given(texts=st.lists(_ascii, min_size=1, max_size=8))
@_settings
def test_norm_expr_and_sql_norm_agree_on_ascii(spark, texts):
    """The round-5 extraction made norm_expr/sql_norm THE shared
    normalization for three dedup operators — this property pins the two
    engines to identical output over arbitrary printable-ASCII input
    (punctuation runs, space runs, digits, empty, mixed case), not just
    the fixture corpus."""
    import duckdb

    from akkastreamprocessnpmpackagedependencies_spark.functions.text import (
        norm_expr,
        sql_norm,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    got_spark = {
        r.i: r.n
        for r in spark.createDataFrame(rows, "i int, text string")
        .select("i", norm_expr(F.col("text")).alias("n"))
        .collect()
    }
    con = duckdb.connect()
    got_duck = dict(
        con.execute(
            f"SELECT i, {sql_norm('t')} FROM (SELECT unnest($1) AS i, unnest($2) AS t)",
            [[r[0] for r in rows], [r[1] for r in rows]],
        ).fetchall()
    )
    assert got_spark == got_duck
    # and the normalized form is idempotent (a second pass is identity)
    renorm = {
        r.i: r.n2
        for r in spark.createDataFrame(
            [(i, n) for i, n in got_spark.items()], "i int, text string"
        )
        .select("i", norm_expr(F.col("text")).alias("n2"))
        .collect()
    }
    assert renorm == got_spark


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x2FF),
            min_size=0,
            max_size=20,
        ),
        min_size=1,
        max_size=10,
    )
)
@_settings
def test_ascii_guard_predicate_agrees_across_engines(spark, texts):
    """The audio decode's non-empty-ASCII gate must admit exactly the
    same documents in both engines: Spark's length(t) = octet_length(t)
    vs DuckDB's length(t) = octet_length(encode(t)) — both are the
    'chars == UTF-8 bytes' test — fuzzed across ASCII and Latin
    supplements (2-byte UTF-8, the boundary case)."""
    import duckdb

    rows = [(i, t) for i, t in enumerate(texts)]
    got_spark = {
        r.i
        for r in spark.createDataFrame(rows, "i int, t string")
        .filter((F.length("t") > 0) & (F.length("t") == F.octet_length("t")))
        .collect()
    }
    con = duckdb.connect()
    got_duck = {
        i
        for (i,) in con.execute(
            "SELECT i FROM (SELECT unnest($1) AS i, unnest($2) AS t) "
            "WHERE length(t) > 0 AND length(t) = octet_length(encode(t))",
            [[r[0] for r in rows], [r[1] for r in rows]],
        ).fetchall()
    }
    assert got_spark == got_duck
    for i in got_spark:  # every admitted doc really is non-empty ASCII
        assert texts[i] and all(ord(c) < 128 for c in texts[i])


@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=12),
    channels=st.sampled_from([1, 3]),
    filter_type=st.integers(min_value=0, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_codec_roundtrip_property(w, h, channels, filter_type, seed):
    """Pure-Python property (no Spark job): ANY dimensions, color type,
    scanline filter and pixel content round-trip bit-exactly through the
    stdlib PNG codec — including 1-pixel rows/columns where the filters'
    left/upper-left neighbors fall off the edge, the corner cases the
    fixed-size roundtrip battery misses."""
    import numpy as np

    from akkastreamprocessnpmpackagedependencies_spark.functions.png import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, size=w * h * channels, dtype=np.uint8).tobytes()
    gw, gh, gc, arr = decode_png(encode_png(w, h, px, channels, filter_type))
    assert (gw, gh, gc) == (w, h, channels)
    assert arr.shape == (h, w, channels)
    assert arr.tobytes() == px


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=28),
    channels=st.sampled_from([1, 3]),
    subsample=st.booleans(),
    quality=st.integers(min_value=1, max_value=100),
    restart=st.sampled_from([0, 1, 3]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=20, deadline=None)
def test_jpeg_progressive_equals_baseline_property(
    w, h, channels, subsample, quality, restart, seed
):
    """Pure-Python property (no Spark job): for ANY dimensions (including
    1-pixel edges), channel count, 4:2:0 subsampling, quality, restart
    interval and pixel content, the progressive (SOF2) and baseline
    (SOF0) encodings of one image decode to bit-identical pixels — the
    two transmissions carry the same quantized coefficients, so any
    divergence is an entropy-layer bug (spectral bands, bit planes,
    EOBRUN, refinement corrections), not loss."""
    import numpy as np

    from akkastreamprocessnpmpackagedependencies_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    sub = subsample and channels == 3
    rng = np.random.RandomState(seed)
    # mix content classes by seed: noise / smooth / near-flat
    if seed % 3 == 0:
        px = rng.randint(0, 256, size=w * h * channels, dtype=np.uint8)
    elif seed % 3 == 1:
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        g = ((xx * 5 + yy * 3) % 256).astype(np.uint8)
        px = np.stack([g] * channels, axis=-1)
    else:
        px = np.full((h, w, channels), 200, dtype=np.uint8)
        px[rng.randint(0, h), rng.randint(0, w)] = 0
    kw = dict(channels=channels, quality=quality, subsample=sub,
              restart_interval=restart)
    base = decode_jpeg(encode_jpeg(w, h, px.tobytes(), **kw))
    prog = decode_jpeg(encode_jpeg(w, h, px.tobytes(), progressive=True, **kw))
    assert base[:3] == prog[:3]
    assert np.array_equal(base[3], prog[3])


@given(
    data=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=1200,
    ),
    splits=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=8),
    seed=st.integers(min_value=0, max_value=2**16),
)
@settings(max_examples=60, deadline=None)
def test_gk_bulk_kernel_rank_bound_property(data, splits, seed):
    """The sorted-splice GK kernel under randomized streams AND
    randomized micro-batch splits: after folding the whole stream, every
    phi-quantile answered by the GK01 rule (``_gk_query``, the answer
    ``streaming_quantiles_gk`` emits) must sit within eps*n rank
    error of the exact sorted data — the operator's contract,
    independent of batch boundaries, duplicates, or value range. Also
    re-asserts the structural invariants (value order, mass
    conservation, g+delta bound) on the final summary."""
    import bisect
    import math
    import random

    import pandas as pd

    from akkastreamprocessnpmpackagedependencies_spark.streaming import pipeline as sp

    eps = sp.GK_EPS
    rng = random.Random(seed)
    rng.shuffle(data)
    tup, n = [], 0
    pos = 0
    si = 0
    while pos < len(data):
        size = splits[si % len(splits)]
        si += 1
        batch = data[pos : pos + size]
        pos += len(batch)
        pdf = pd.DataFrame(
            {"ts": range(len(batch)), "event_id": range(len(batch)), "value": batch}
        )
        tup = sp._gk_insert_batch(tup, n, pdf, eps)
        n += len(batch)
    assert n == len(data)
    assert sum(g for _, g, _ in tup) == n
    vs = [v for v, _, _ in tup]
    assert vs == sorted(vs)
    bound_gd = max(1, int(math.floor(2 * eps * n)))
    assert all(g + d <= bound_gd for _, g, d in tup[1:])
    xs = sorted(data)
    for phi in sp.GK_PHIS:
        r = max(1, int(math.ceil(phi * n)))
        band = eps * n
        ans = sp._gk_query(tup, n, phi, eps)
        lo = bisect.bisect_left(xs, ans) + 1
        hi = bisect.bisect_right(xs, ans)
        # +1 absorbs ceil/tie slack, same as the streaming test's bound
        assert lo - band - 1 <= r <= hi + band + 1, (phi, r, lo, hi, n)
