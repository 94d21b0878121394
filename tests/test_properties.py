"""Property-based tests (hypothesis) for the driver-side kernels —
pure functions whose edge cases (remainders, tiny n, degenerate chunk
params) are exactly where example-based tests go stale. Mirrors the
reference's own parametrized testing of split_range (SURVEY.md §5)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from opentimes_spark.io.external import normalize_shapefile_columns
from opentimes_spark.operators.chunking import chunk_bounds


@given(
    n=st.integers(min_value=0, max_value=100_000),
    n_chunks=st.integers(min_value=1, max_value=64),
    min_chunk=st.integers(min_value=1, max_value=25_000),
)
@settings(max_examples=300, deadline=None)
def test_chunk_bounds_partition_exactly(n, n_chunks, min_chunk):
    bounds = chunk_bounds(n, n_chunks, min_chunk)
    if n == 0:
        assert bounds == []
        return
    # contiguous, complete, non-overlapping cover of [0, n)
    assert bounds[0][0] == 0 and bounds[-1][1] == n
    for (s1, e1), (s2, e2) in zip(bounds, bounds[1:]):
        assert e1 == s2
    # the chunk-count and size contracts (remainder folds into the last)
    assert len(bounds) <= max(n_chunks, 1)
    for s, e in bounds[:-1]:
        assert e - s >= min(min_chunk, n)
    assert all(e > s for s, e in bounds)


@given(
    n=st.integers(min_value=1, max_value=100_000),
    n_chunks=st.integers(min_value=1, max_value=64),
    min_chunk=st.integers(min_value=1, max_value=25_000),
)
@settings(max_examples=200, deadline=None)
def test_chunk_bounds_last_chunk_absorbs_remainder(n, n_chunks, min_chunk):
    bounds = chunk_bounds(n, n_chunks, min_chunk)
    sizes = [e - s for s, e in bounds]
    # every chunk except the last has the uniform computed size
    if len(sizes) > 1:
        assert len(set(sizes[:-1])) == 1
        assert sizes[-1] >= sizes[0]


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x7F
            ),
            min_size=1,
            max_size=12,
        ),
        max_size=8,
    )
)
@settings(max_examples=200, deadline=None)
def test_normalize_shapefile_columns_idempotent(names):
    once = normalize_shapefile_columns(names)
    assert normalize_shapefile_columns(once) == once
    assert all(c == c.lower() for c in once)
    assert all(c and not c[-1].isdigit() for c in once)
    assert len(set(once)) == len(once)  # collision-free by contract


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    d=st.floats(min_value=0.1, max_value=20.0),
)
@settings(max_examples=150, deadline=None)
def test_buffer_predicate_monotone_and_nested(seed, d):
    """Dilation/erosion lattice laws on a concave ring: erode(d) ⊆ P ⊆
    dilate(d), and masks are monotone in d."""
    import numpy as np

    from opentimes_spark.functions.geometry import (
        points_in_polygon,
        points_within_buffer,
    )

    u = np.array(
        [(0, 0), (30, 0), (30, 30), (20, 30), (20, 10), (10, 10), (10, 30), (0, 30)],
        dtype=float,
    )
    rng = np.random.RandomState(seed)
    px = rng.uniform(-10, 40, 64)
    py = rng.uniform(-10, 40, 64)
    inside = points_in_polygon(px, py, u)
    dil = points_within_buffer(px, py, u, d)
    ero = points_within_buffer(px, py, u, -d)
    assert not (ero & ~inside).any()      # erosion ⊆ polygon
    assert not (inside & ~dil).any()      # polygon ⊆ dilation
    dil2 = points_within_buffer(px, py, u, d + 1.0)
    ero2 = points_within_buffer(px, py, u, -(d + 1.0))
    assert not (dil & ~dil2).any()        # dilation monotone ↑
    assert not (ero2 & ~ero).any()        # erosion monotone ↓


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(max_examples=100, deadline=None)
def test_dist_to_ring_vs_dense_boundary_sampling(seed):
    """dist_to_ring lower-bounds (and approaches) distance to a dense
    sampling of the boundary."""
    import numpy as np

    from opentimes_spark.functions.geometry import dist_to_ring

    u = np.array(
        [(0, 0), (30, 0), (30, 30), (20, 30), (20, 10), (10, 10), (10, 30), (0, 30)],
        dtype=float,
    )
    rng = np.random.RandomState(seed)
    px = rng.uniform(-10, 40, 16)
    py = rng.uniform(-10, 40, 16)
    d = dist_to_ring(px, py, u)
    # dense boundary sample (step 0.05 along each edge)
    samples = []
    ring = np.vstack([u, u[:1]])
    for a, b in zip(ring[:-1], ring[1:]):
        n = int(np.hypot(*(b - a)) / 0.05)
        for k in range(n + 1):
            samples.append(a + (b - a) * (k / max(n, 1)))
    s = np.asarray(samples)
    brute = np.min(
        np.hypot(px[:, None] - s[None, :, 0], py[:, None] - s[None, :, 1]), axis=1
    )
    assert (d <= brute + 1e-9).all()
    assert (brute - d <= 0.05).all()  # sampling resolution bound


@given(
    z=st.integers(min_value=0, max_value=10),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_hilbert_tile_id_bijective_and_in_range(z, data):
    """PMTiles tile ids: every (z, x, y) maps into its zoom's id block
    [ (4^z-1)/3, (4^(z+1)-1)/3 ) and distinct coords never collide —
    the invariant the archive's binary-searchable directory rests on."""
    from opentimes_spark.operators.tiles import hilbert_tile_id

    n = 2**z
    x1 = data.draw(st.integers(min_value=0, max_value=n - 1))
    y1 = data.draw(st.integers(min_value=0, max_value=n - 1))
    x2 = data.draw(st.integers(min_value=0, max_value=n - 1))
    y2 = data.draw(st.integers(min_value=0, max_value=n - 1))
    lo = (4**z - 1) // 3
    hi = (4 ** (z + 1) - 1) // 3
    i1 = hilbert_tile_id(z, x1, y1)
    assert lo <= i1 < hi
    if (x1, y1) != (x2, y2):
        assert i1 != hilbert_tile_id(z, x2, y2)


@given(
    values=st.lists(
        st.integers(min_value=-10_000, max_value=10_000), min_size=1, max_size=60
    ),
)
@settings(max_examples=100, deadline=None)
def test_protobuf_varint_round_trip(values):
    """varint+zigzag encode → independent decode round-trips any int64
    list — the wire primitive every MVT geometry and PMTiles directory
    rides on."""
    from opentimes_spark.operators.tiles import varint, zigzag

    buf = b"".join(varint(zigzag(v)) for v in values)
    out, pos = [], 0
    while pos < len(buf):
        shift = val = 0
        while True:
            b = buf[pos]
            pos += 1
            val |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        out.append((val >> 1) ^ -(val & 1))
    assert out == values


@given(
    data=st.data(),
    t=st.floats(min_value=0.1, max_value=1.0, allow_nan=False),
)
@settings(max_examples=300, deadline=None)
def test_ppjoin_filters_never_lose_a_true_containment_pair(data, t):
    """The three candidate prunes in
    ``operators/dedup.py:containment_pairs_prefix`` (prefix, length,
    positional) are pure set/arithmetic claims — model them exactly
    (same eps-nudged ceil) over random corpora and assert every TRUE
    pair (C(a→b) ≥ t) survives all three.  This is the part of the
    operator that could silently lose pairs; the Spark plan itself is
    example-tested for equivalence in test_dedup.py."""
    import math

    n_docs = data.draw(st.integers(min_value=2, max_value=8))
    corpus = {}
    for i in range(n_docs):
        toks = data.draw(
            st.frozensets(
                st.integers(min_value=0, max_value=12), min_size=1, max_size=10
            )
        )
        corpus[i] = toks
    df = {}
    for toks in corpus.values():
        for tok in toks:
            df[tok] = df.get(tok, 0) + 1
    order = {tok: pos for pos, tok in enumerate(sorted(df, key=lambda x: (df[x], x)))}

    def ranked(toks):
        return sorted(toks, key=lambda x: order[x])

    for a, A in corpus.items():
        need = math.ceil(t * len(A) - 1e-9)
        p = len(A) - need + 1
        prefix = set(ranked(A)[:p])
        for b, B in corpus.items():
            if a == b or len(A & B) / len(A) < t:
                continue
            # prefix bound: some intersection token is in a's prefix
            assert prefix & B, (A, B, t)
            # length filter
            assert len(B) >= need, (A, B, t)
            # positional filter: SOME prefix∩B token satisfies
            # n_b - j_b + 1 >= need (j_b is its 1-based rank within B)
            rb = {tok: i + 1 for i, tok in enumerate(ranked(B))}
            assert any(
                len(B) - rb[tok] + 1 >= need for tok in prefix & B
            ), (A, B, t)


def test_quality_langid_oracles_match_spark_on_empty_docs():
    """An empty / whitespace-only / one-word doc must produce the SAME
    row in the DuckDB oracle as in Spark's profile(): without the
    oracle-side guards, 0/0 is NaN and DuckDB's NaN-is-greatest makes
    'NaN >= 0.03' TRUE -> lang_pred 'en' where Spark says 'unknown'."""
    import duckdb

    from opentimes_spark.plans.queries import ORACLE_SQL

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    for i, t in enumerate(["", "   ", "word", "the of and to in is on for with a word here"]):
        con.execute("INSERT INTO documents VALUES (?, ?, 'en')", [i, t])
    lang = dict(
        (r[0], r[2]) for r in con.sql(ORACLE_SQL["text_langid"]).fetchall()
    )
    assert lang[0] == "unknown" and lang[1] == "unknown"
    assert lang[3] == "en"
    q = {r[0]: r[1:] for r in con.sql(ORACLE_SQL["text_quality"]).fetchall()}
    assert q[0] == (None, None, None)  # empty doc: all NULL, like Spark
    assert q[1][0] is None             # whitespace-only: NULL stop_ratio


@given(
    syms=st.lists(st.sampled_from(["a", "b", "c", "ab"]), max_size=12),
    pair=st.tuples(
        st.sampled_from(["a", "b", "c", "ab"]),
        st.sampled_from(["a", "b", "c", "ab"]),
    ),
)
@settings(max_examples=200, deadline=None)
def test_bpe_python_model_merge_invariants(syms, pair):
    """The reference merge model (mirrored by the Spark fold, which is
    fuzz-equivalence-tested in test_bpe.py): merged output is never
    longer, concatenates back to the same string, and contains no
    remaining adjacent (a, b) pair unless it was created by the merge
    itself (a+b == one of the pair's own members chained)."""
    from tests.test_bpe import _py_merge

    a, b = pair
    out = _py_merge(list(syms), a, b)
    assert len(out) <= len(syms)
    assert "".join(out) == "".join(syms)
    if a + b not in (a, b) and not any(
        (a + b).endswith(a) or (a + b).startswith(b) for _ in [0]
    ):
        assert all(
            not (x == a and y == b) for x, y in zip(out, out[1:])
        )


@given(
    data=st.data(),
    k=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=150, deadline=None)
def test_weighted_farthest_is_deterministic_and_complete(data, k):
    from opentimes_spark.operators.clustering import _weighted_farthest

    n = data.draw(st.integers(min_value=k, max_value=8))
    cands = [
        [data.draw(st.floats(-10, 10, allow_nan=False)) for _ in range(2)]
        for _ in range(n)
    ]
    weights = [float(data.draw(st.integers(0, 5))) for _ in range(n)]
    s1 = _weighted_farthest([list(c) for c in cands], list(weights), k)
    s2 = _weighted_farthest([list(c) for c in cands], list(weights), k)
    assert s1 == s2                      # deterministic, no RNG
    assert len(s1) == k
    ids = [cands.index(c) for c in s1]
    assert len(set(map(tuple, s1))) <= len(s1)  # drawn from the pool
    assert all(c in cands for c in s1)


@given(
    a=st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=4),
        min_size=1,
        max_size=150,
    ),
    b=st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=4),
        max_size=150,
    ),
    depth=st.integers(min_value=1, max_value=5),
    width=st.integers(min_value=2, max_value=64),
)
@settings(max_examples=200, deadline=None)
def test_cms_laws_never_undercount_and_merge_additively(a, b, depth, width):
    """The Count-Min laws on the exact md5 bucket math the Spark
    operator (and its DuckDB oracle) use: a point estimate is min over
    depth counters and NEVER undercounts, and the sketch of a
    concatenated stream equals the counter-wise sum of the parts'
    sketches (the merge law the streaming sink relies on)."""
    import hashlib
    from collections import Counter

    def bucket(item: str, row: int) -> int:
        return (
            int(hashlib.md5(f"{row}:{item}".encode()).hexdigest()[:8], 16)
            % width
        )

    def sketch(items):
        t: Counter = Counter()
        for x in items:
            for r in range(depth):
                t[(r, bucket(x, r))] += 1
        return t

    sa, sb, sab = sketch(a), sketch(b), sketch(a + b)
    assert sa + sb == sab  # merge law
    exact = Counter(a + b)
    for item, n in exact.items():
        est = min(sab[(r, bucket(item, r))] for r in range(depth))
        assert est >= n


@given(
    h=st.integers(min_value=1, max_value=12),
    w=st.integers(min_value=1, max_value=12),
    mode=st.sampled_from(["gray", "rgb", "rgba"]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_png_round_trip_property(h, w, mode, seed):
    """encode_png→decode_png is the identity for every shape/color
    type in scope (hypothesis over dims incl. 1-pixel edges)."""
    import numpy as np

    from opentimes_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.RandomState(seed)
    shape = {"gray": (h, w), "rgb": (h, w, 3), "rgba": (h, w, 4)}[mode]
    img = rng.randint(0, 256, size=shape, dtype=np.uint8)
    out = decode_png(encode_png(img))
    assert out.shape == img.shape and (out == img).all()


@given(
    h=st.integers(min_value=1, max_value=10),
    w=st.integers(min_value=1, max_value=10),
    n_colors=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_gif_round_trip_property(h, w, n_colors, seed):
    import numpy as np

    from opentimes_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, size=(n_colors, 3)).astype(np.uint8)
    idx = rng.randint(0, n_colors, size=(h, w)).astype(np.uint8)
    out = decode_gif(encode_gif(idx, pal))
    assert (out == pal[idx]).all()


@settings(max_examples=200, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)), max_size=120
    ),
    as_str=st.booleans(),
)
def test_union_find_matches_bfs_reference(edges, as_str):
    """Property: the driver union-find kernel (the shuffle-free cutover
    path of ``connected_components``) labels every node with the exact
    min member of its component, for ANY edge multiset — duplicates,
    self-loops, both orientations, long or string ids — matching a
    brute-force BFS reference."""
    from opentimes_spark.operators.components import _driver_union_find

    if as_str:  # lexicographic min semantics, same as the operator
        edges = [(f"n{u:02d}", f"n{v:02d}") for u, v in edges]
    nodes = []
    seen = set()
    for u, v in edges:
        for x in (u, v):
            if x not in seen:
                seen.add(x)
                nodes.append(x)
    got = dict(_driver_union_find(iter(edges), [(n,) for n in nodes]))
    # BFS reference
    adj: dict = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    want = {}
    visited = set()
    for n in nodes:
        if n in visited:
            continue
        comp = [n]
        visited.add(n)
        queue = [n]
        while queue:
            x = queue.pop()
            for y in adj[x]:
                if y not in visited:
                    visited.add(y)
                    comp.append(y)
                    queue.append(y)
        m = min(comp)
        for x in comp:
            want[x] = m
    assert got == want
