"""Hypothesis property tests for the stdlib codec layer: encode ->
decode must be the identity for arbitrary images/streams, not just the
fixtures the unit tests pin."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from datapatterns_spark.functions import codecs as cd


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 21),
    h=st.integers(1, 17),
    c=st.integers(1, 4),
    data=st.data(),
)
def test_png_roundtrip_property(w, h, c, data):
    px = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * c, max_size=w * h * c
            )
        )
    )
    w2, h2, c2, px2 = cd.png_decode(cd.png_encode(px, w, h, c))
    assert (w2, h2, c2) == (w, h, c)
    assert bytes(px2) == px


@settings(max_examples=30, deadline=None)
@given(
    mcs=st.integers(2, 8),
    data=st.data(),
)
def test_lzw_roundtrip_property(mcs, data):
    idx = bytes(
        data.draw(
            st.lists(st.integers(0, (1 << mcs) - 1), min_size=0, max_size=3000)
        )
    )
    assert bytes(cd._lzw_decode(mcs, cd._lzw_encode(mcs, idx))) == idx


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(1, 14),
    h=st.integers(1, 10),
    nframes=st.integers(1, 4),
    data=st.data(),
)
def test_gif_roundtrip_property(w, h, nframes, data):
    # palette-bounded pixels: draw from at most 8 distinct colors
    palette = [
        bytes(data.draw(st.lists(st.integers(0, 255), min_size=3, max_size=3)))
        for _ in range(8)
    ]
    frames = []
    for _ in range(nframes):
        px = bytearray()
        for _ in range(w * h):
            px += palette[data.draw(st.integers(0, 7))]
        frames.append((data.draw(st.integers(10, 500)), px))
    w2, h2, got = cd.gif_decode(cd.gif_encode(frames, w, h))
    assert (w2, h2, len(got)) == (w, h, nframes)
    for (_, px_in), (_, px_out) in zip(frames, got):
        assert bytes(px_out) == bytes(px_in)


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 16),
    h=st.integers(1, 12),
    nw=st.integers(1, 16),
    nh=st.integers(1, 12),
    data=st.data(),
)
def test_resize_box_bounds_property(w, h, nw, nh, data):
    c = 3
    px = bytes(
        data.draw(
            st.lists(st.integers(0, 255), min_size=w * h * c, max_size=w * h * c)
        )
    )
    out = cd.resize_box(px, w, h, c, nw, nh)
    assert len(out) == nw * nh * c
    # every output channel value is within the source's [min, max]
    for ch in range(c):
        src = px[ch::c]
        lo, hi = min(src), max(src)
        assert all(lo <= v <= hi for v in out[ch::c])
