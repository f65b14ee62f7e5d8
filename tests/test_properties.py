"""Property-based tests (hypothesis) for the pure-Python contracts
(SURVEY.md §5.2-6): canonicalization idempotence, query-encode round-trips,
pager sequence laws, bloom zero-false-negatives, attrs tokenizer laws."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from bbcrawl_spark import cmdline, pagers, urlkit
from bbcrawl_spark.operators.dedup import _build_blob, _check_blob

_hosts = st.from_regex(r"[a-z][a-z0-9\-]{0,10}(\.[a-z]{2,5}){1,2}", fullmatch=True)
_paths = st.from_regex(r"(/[A-Za-z0-9._\-]{0,8}){0,4}/?", fullmatch=True)
_querys = st.from_regex(r"([a-z]{1,5}=[A-Za-z0-9]{0,6}(&[a-z]{1,5}=[A-Za-z0-9]{0,6}){0,3})?", fullmatch=True)


@st.composite
def urls(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "Https"]))
    host = draw(_hosts)
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    path = draw(_paths)
    q = draw(_querys)
    frag = draw(st.sampled_from(["", "#x", "#frag"]))
    return f"{scheme}://{host}{port}{path}" + (f"?{q}" if q else "") + frag


class TestCanonicalize:
    @given(urls())
    @settings(max_examples=300, deadline=None)
    def test_idempotent(self, u):
        c = urlkit.canonicalize(u)
        assert urlkit.canonicalize(c) == c

    @given(urls())
    @settings(max_examples=300, deadline=None)
    def test_fragment_and_case_invariant(self, u):
        base = u.split("#")[0]
        assert urlkit.canonicalize(u) == urlkit.canonicalize(base)
        # scheme+host case never matters
        p = urlkit.parse_url(u)
        swapped = u.replace(p.scheme, p.scheme.upper(), 1)
        assert urlkit.canonicalize(swapped) == urlkit.canonicalize(u)

    @given(urls())
    @settings(max_examples=300, deadline=None)
    def test_hash_is_stable(self, u):
        assert urlkit.url_hash(u) == urlkit.url_hash(urlkit.canonicalize(u))


class TestQueryEncode:
    @given(st.dictionaries(
        st.from_regex(r"[a-z]{1,6}", fullmatch=True),
        st.lists(st.text(alphabet=st.characters(codec="utf-8",
                                                exclude_characters="&=+%"),
                         max_size=8), min_size=1, max_size=3),
        max_size=4,
    ))
    @settings(max_examples=200, deadline=None)
    def test_roundtrip(self, values):
        encoded = urlkit.query_encode(values)
        assert urlkit.parse_query(encoded) == {k: values[k] for k in sorted(values)}

    @given(st.dictionaries(st.from_regex(r"[a-z]{1,6}", fullmatch=True),
                           st.lists(st.from_regex(r"[a-z0-9]{0,6}", fullmatch=True),
                                    min_size=1, max_size=2), max_size=4))
    @settings(max_examples=200, deadline=None)
    def test_keys_sorted(self, values):
        encoded = urlkit.query_encode(values)
        keys = [p.split("=")[0] for p in encoded.split("&") if p]
        assert keys == sorted(keys)


class TestPagerLaws:
    @given(st.integers(1, 50), st.integers(0, 30), st.integers(1, 5))
    @settings(max_examples=100, deadline=None)
    def test_cutter_sequence_length_and_order(self, start, extra, step):
        end = start + extra
        spec = pagers.CutterPagerSpec(
            url="http://h.example/1/x", start=start, end=end, step=step, cut=(18, 1)
        )
        seq = pagers.pager_sequence(spec)
        assert len(seq) == end - start + 1
        ords = [o for o, _, _ in seq]
        assert ords == sorted(ords) == list(range(len(seq)))
        # substituted number is page*step
        assert seq[0][2] == f"http://h.example/{start * step}/x"

    @given(st.integers(1, 30), st.integers(0, 20))
    @settings(max_examples=100, deadline=None)
    def test_vb4_page1_bare(self, start, extra):
        spec = pagers.VB4PagerSpec(url="http://h/t", start=start, end=start + extra)
        seq = pagers.pager_sequence(spec)
        for _, p, u in seq:
            if p == 1:
                assert u == "http://h/t"
            else:
                assert u == f"http://h/t/page{p}"


class TestBloomProperties:
    @given(st.lists(st.integers(-(2**62), 2**62), min_size=1, max_size=500, unique=True),
           st.integers(4, 12))
    @settings(max_examples=50, deadline=None)
    def test_zero_false_negatives(self, keys, bits_per_key):
        arr = np.array(keys, dtype=np.int64)
        blob = _build_blob(arr, bits_per_key, 7)
        assert _check_blob(arr, blob, 7).all()

    @given(st.integers(0, 10_000))
    @settings(max_examples=50, deadline=None)
    def test_false_positive_rate_bounded(self, seed):
        rng = np.random.RandomState(seed)
        members = rng.randint(-(2**62), 2**62, size=2000).astype(np.int64)
        others = rng.randint(-(2**62), 2**62, size=2000).astype(np.int64)
        others = np.setdiff1d(others, members)
        blob = _build_blob(members, 10, 7)
        fpp = _check_blob(others, blob, 7).mean()
        assert fpp < 0.05  # 10 bits/key, 7 hashes -> ~0.8% expected


class TestIncrementalBloomLaws:
    """Numpy-level laws of the OR-in update path (no Spark — the distributed
    wrapper is covered in test_operators): ORing new keys into an existing
    blob is exactly equivalent to building from the union."""

    @given(
        st.lists(st.integers(-(2**62), 2**62), min_size=1, max_size=300, unique=True),
        st.lists(st.integers(-(2**62), 2**62), min_size=1, max_size=300, unique=True),
    )
    @settings(max_examples=50, deadline=None)
    def test_or_in_equals_union_build(self, old_keys, new_keys):
        from bbcrawl_spark.operators.dedup import _bloom_positions

        old = np.array(old_keys, dtype=np.int64)
        new = np.array([k for k in new_keys if k not in set(old_keys)], dtype=np.int64)
        if len(new) == 0:
            return
        blob = _build_blob(old, 10, 7).copy()
        u = new.astype(np.uint64)
        for pos in _bloom_positions(u, len(blob) * 8, 7):
            np.bitwise_or.at(blob, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        both = np.concatenate([old, new])
        # zero false negatives over the union after OR-in
        assert _check_blob(both, blob, 7).all()
        # and bit-identical to inserting the union into a same-sized blob
        m_bits = len(blob) * 8
        ref = np.zeros_like(blob)
        ub = both.astype(np.uint64)
        for pos in _bloom_positions(ub, m_bits, 7):
            np.bitwise_or.at(ref, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        assert np.array_equal(blob, ref)


class TestAttrsTokenizerLaws:
    @given(st.lists(st.from_regex(r"[a-z0-9 ]{1,6}", fullmatch=True), min_size=1, max_size=5))
    @settings(max_examples=200, deadline=None)
    def test_join_split_roundtrip(self, segments):
        s = "/".join(segments)
        assert cmdline.tokenize_attrs(s) == segments

    @given(st.text(alphabet="ab/\\", max_size=12))
    @settings(max_examples=300, deadline=None)
    def test_never_crashes_except_trailing_escape(self, s):
        # odd trailing backslash run = dangling escape -> reference errors
        stripped = s.rstrip("\\")
        dangling = (len(s) - len(stripped)) % 2 == 1
        try:
            cmdline.tokenize_attrs(s)
            assert not dangling
        except ValueError:
            assert dangling


class TestPathUnescapeLaws:
    """Go unescape(s, encodePath) twin (urlkit.path_unescape)."""

    @given(st.text(min_size=0, max_size=60))
    @settings(max_examples=200, deadline=None)
    def test_encode_then_decode_roundtrips(self, s):
        # percent-encode every byte, decode -> original (Go parity: decode
        # accepts any %XX, uppercase or lowercase hex)
        enc = "".join(f"%{b:02X}" for b in s.encode("utf-8", "surrogateescape"))
        assert urlkit.path_unescape(enc) == s
        enc_lower = "".join(f"%{b:02x}" for b in s.encode("utf-8", "surrogateescape"))
        assert urlkit.path_unescape(enc_lower) == s

    @given(st.text(alphabet=st.characters(blacklist_characters="%"), max_size=60))
    @settings(max_examples=100, deadline=None)
    def test_percent_free_is_identity(self, s):
        assert urlkit.path_unescape(s) == s

    def test_single_pass_like_go(self):
        # decoding is single-pass like Go's: %2541 -> '%41' (NOT 'A')
        assert urlkit.path_unescape("%2541") == "%41"

