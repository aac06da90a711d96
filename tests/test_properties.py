"""Property-based tests (hypothesis) over the engine's pure kernels.

The reference ships no property testing (SURVEY.md §5); these pin the
invariants the distributed plans lean on: filter kernels can never
false-negative, the fast HTML tokenizer is tree-equivalent to the stdlib
parser on arbitrary generated markup, scalar twins match their reference
regex semantics, and the crawl-order composite key is order-isomorphic.
All pure Python/numpy — no SparkSession needed.
"""

import re
import string

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from s_crawler_spark.functions import htmlsel
from s_crawler_spark.operators import extract_core as ec
from s_crawler_spark.operators import seen
from s_crawler_spark.operators.frontier import SEQ_PAGE_SHIFT, SEQ_WAVE_SHIFT

keys_strategy = st.lists(
    st.integers(min_value=0, max_value=2**64 - 1), min_size=1, max_size=300,
    unique=True)


@given(keys_strategy)
@settings(max_examples=50, deadline=None)
def test_bloom_never_false_negative(keys):
    arr = np.array(keys, dtype=np.uint64)
    bits = seen.bloom_build(arr, max(64, len(arr) * 10))
    assert seen.bloom_probe(bits, arr).all()


@given(keys_strategy, keys_strategy)
@settings(max_examples=30, deadline=None)
def test_bloom_fp_rate_bounded(keys, probes):
    arr = np.array(keys, dtype=np.uint64)
    others = np.array([p for p in probes if p not in set(keys)], dtype=np.uint64)
    if len(others) == 0:
        return
    bits = seen.bloom_build(arr, max(64, len(arr) * 10))
    hits = int(seen.bloom_probe(bits, others).sum())
    # 10 bits/key ⇒ ~1% expected fp. A *rate* bound is meaningless for tiny
    # probe sets (hypothesis can shrink to one unlucky colliding probe), so
    # bound the count with a small-sample allowance.
    assert hits <= max(5, 0.35 * len(others))


# keys below 2^48 used to share one raw-key fingerprint and bucket pair
SMALL_KEYS = [29, 82, 132, 173, 11051, 19499, 54482, 56135, 57703]


@given(keys_strategy)
@example(SMALL_KEYS)
@settings(max_examples=50, deadline=None)
def test_cuckoo_never_false_negative(keys):
    arr = np.array(keys, dtype=np.uint64)
    n_buckets = max(16, int(len(arr) / (0.84 * seen._CK_SLOTS)) + 1)
    bits = seen.cuckoo_build(arr, n_buckets)
    assert seen.cuckoo_probe(bits, arr).all()


@given(keys_strategy)
@example(SMALL_KEYS)
@settings(max_examples=30, deadline=None)
def test_cuckoo_delete_removes_only_deleted(keys):
    arr = np.array(keys, dtype=np.uint64)
    n_buckets = max(16, int(len(arr) / (0.84 * seen._CK_SLOTS)) + 1)
    bits = seen.cuckoo_build(arr, n_buckets)
    half = arr[: len(arr) // 2]
    kept = arr[len(arr) // 2:]
    bits2 = seen.cuckoo_delete(bits, half)
    # kept keys must still probe positive (no collateral deletion beyond
    # fingerprint collisions, which share the same fingerprint+buckets and
    # are excluded by uniqueness of the key set only probabilistically —
    # so assert on the kept set allowing fingerprint-collision exceptions)
    still = seen.cuckoo_probe(bits2, kept)
    assert still.mean() >= 0.95 if len(kept) else True


# ---------------------------------------------------------------------------
# fast tokenizer ↔ stdlib equivalence on generated HTML
# ---------------------------------------------------------------------------

_tags = st.sampled_from(["div", "span", "p", "a", "h2", "ul", "li", "time"])
# no raw '<' in text — HTML escapes it; stdlib's recovery for '<A<' invents
# tag names like 'a<', which is garbage-in behavior we don't chase
_words = st.text(alphabet=string.ascii_letters + string.digits + " .&;#>",
                 min_size=0, max_size=20)
_attr_val = st.text(alphabet=string.ascii_letters + string.digits + " -_/.&;",
                    min_size=0, max_size=15)


@st.composite
def html_fragment(draw, depth=0):
    if depth >= 3 or draw(st.booleans()):
        return draw(_words)
    tag = draw(_tags)
    cls = draw(_attr_val)
    href = draw(_attr_val)
    n = draw(st.integers(min_value=0, max_value=3))
    inner = "".join(draw(html_fragment(depth=depth + 1)) for _ in range(n))
    attrs = f' class="{cls}"' if cls else ""
    if tag == "a":
        attrs += f" href='{href}'"
    if draw(st.booleans()) and draw(st.booleans()):
        # non-void self-closing form (plus bare-attribute variant)
        bare = draw(st.sampled_from(["", " DISABLED", " data-x"]))
        return f"<{tag}{attrs}{bare}/>{inner}"
    return f"<{tag}{attrs}>{inner}</{tag}>"


def _sig(el):
    return (el.tag, sorted(el.attrs.items()), "".join(el._texts or ()),
            [_sig(c) for c in (el.children or ())])


@given(st.lists(html_fragment(), min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_fast_parser_equivalence_generated(frags):
    html = "<html><body>" + "".join(frags) + "</body></html>"
    assert _sig(htmlsel.parse_html(html)) == _sig(htmlsel.parse_html_stdlib(html))


# ---------------------------------------------------------------------------
# scalar kernel twins vs reference regex semantics
# ---------------------------------------------------------------------------

@given(st.text(max_size=300))
@settings(max_examples=200)
def test_sanitize_filename_properties(s):
    out = ec.sanitize_filename(s)
    assert len(out) <= 200
    assert not re.search(r'[<>:"/\\|?*]', out)
    assert not re.search(r"\s\s", out)
    assert out == out.strip()


@given(st.text(alphabet=string.printable, max_size=100))
@settings(max_examples=200)
def test_doi_extraction_matches_reference_regex(url):
    got = ec.extract_doi_from_url(url)
    m = re.search(r"/doi/(10\.\d+/[^/]+)", url)
    assert got == (m.group(1) if m else None)


@given(st.integers(min_value=1, max_value=28), st.integers(min_value=1, max_value=12),
       st.integers(min_value=1990, max_value=2030))
@settings(max_examples=100)
def test_date_parse_roundtrip(day, month, year):
    months = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
              "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
    d1 = ec.parse_publication_date(f"{day:02d} {months[month-1]} {year}")
    d2 = ec.parse_publication_date(f"{year:04d}-{month:02d}-{day:02d}")
    assert d1 == d2
    assert (d1.year, d1.month, d1.day) == (year, month, day)
    assert ec.parse_publication_date(f"Vol {day}") is None


# ---------------------------------------------------------------------------
# crawl-order composite key is order-isomorphic to (wave, page, idx)
# ---------------------------------------------------------------------------

@given(st.lists(st.tuples(
    st.integers(min_value=0, max_value=2**19),
    st.integers(min_value=0, max_value=2**23),
    st.integers(min_value=0, max_value=2**19)), min_size=2, max_size=50))
@settings(max_examples=200)
def test_composite_seq_order_isomorphic(triples):
    def seq(w, p, c):
        return (w << SEQ_WAVE_SHIFT) + (p << SEQ_PAGE_SHIFT) + c
    assert sorted(triples) == sorted(triples, key=lambda t: seq(*t))
    seqs = [seq(*t) for t in triples]
    assert len(set(seqs)) == len(set(triples))
