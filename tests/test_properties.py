"""Property-based tests (hypothesis): scorer metric invariants and hashing
determinism — the structural-assertion style of the reference's tests
(SURVEY.md section 5) strengthened with generated inputs."""

import hashlib

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from entity_linkings_spark.functions.hashing import MINHASH_PRIME
from entity_linkings_spark.operators.scoring import score_batch

TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=40
)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(TEXT, TEXT), min_size=1, max_size=20))
@example(pairs=[("", "")])  # discovered failure (blank-vs-blank n-grams)
@example(pairs=[("00010", "00010")])  # discovered failure (repeated chars)
def test_scores_bounded_and_symmetric(pairs):
    a = pd.Series([p[0] for p in pairs])
    b = pd.Series([p[1] for p in pairs])
    ab = score_batch(a, b)
    ba = score_batch(b, a)
    for col in ab.columns:
        assert ((ab[col] >= 0) & (ab[col] <= 1)).all(), col
        assert np.allclose(ab[col], ba[col], atol=1e-12), f"{col} not symmetric"


@settings(max_examples=60, deadline=None)
@given(TEXT.filter(lambda s: s.strip() != ""))
def test_identity_scores_one(s):
    r = score_batch(pd.Series([s]), pd.Series([s])).iloc[0]
    assert r["lev_ratio"] == 1.0 and r["osa_ratio"] == 1.0
    assert r["jaro_winkler"] == 1.0
    assert abs(r["combined"] - 1.0) < 1e-12


@settings(max_examples=40, deadline=None)
@given(TEXT, TEXT)
def test_osa_never_exceeds_levenshtein(a, b):
    r = score_batch(pd.Series([a]), pd.Series([b])).iloc[0]
    # OSA distance <= Levenshtein distance  =>  osa_ratio >= lev_ratio
    assert r["osa_ratio"] >= r["lev_ratio"] - 1e-12


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(alphabet="abcdef", min_size=1, max_size=6), min_size=1, max_size=8))
def test_minhash_python_model(tokens):
    """The Catalyst minhash (tested elsewhere) shares this exact model:
    assert the pure-python mirror is permutation-invariant and bounded."""
    def sig(toks):
        h1 = [int(hashlib.md5(("mh1:" + t).encode()).hexdigest()[:7], 16) for t in toks]
        h2 = [int(hashlib.md5(("mh2:" + t).encode()).hexdigest()[:7], 16) for t in toks]
        return [min((x + i * y) % MINHASH_PRIME for x, y in zip(h1, h2)) for i in range(4)]

    s1 = sig(tokens)
    s2 = sig(list(reversed(tokens)))
    assert s1 == s2
    assert all(0 <= v < MINHASH_PRIME for v in s1)


@settings(max_examples=15, deadline=None)
@given(st.integers(0, 2**32 - 1))
def test_grid_neardup_complete_on_random_vectors(seed):
    """Property: the quantized-projection grid finds EXACTLY the brute-force
    pair set for cos >= tau on random unit vectors (the Lipschitz cover
    argument, checked end-to-end in numpy against the same cell/probe rule)."""
    rng = np.random.default_rng(seed)
    n, d = 40, 8
    v = rng.normal(size=(n, d))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    tau = 0.6
    w = (2.0 - 2.0 * tau) ** 0.5 * (1.0 + 1e-9)
    cos = v @ v.T
    exact = {(i, j) for i in range(n) for j in range(i + 1, n) if cos[i, j] >= tau}
    cells = np.floor(v[:, :2] / w).astype(int)
    found = set()
    for i in range(n):
        for j in range(i + 1, n):
            if (np.abs(cells[i] - cells[j]) <= 1).all() and cos[i, j] >= tau:
                found.add((i, j))
    assert found == exact  # every qualifying pair lands in adjacent cells


# ---- round-3 machinery properties (pure-python/numpy, no Spark session) ----

@given(st.text(alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FF),
               max_size=40))
@settings(max_examples=60, deadline=None)
def test_mysql_escape_roundtrip(s):
    """format-side escaping and _split_tuples decoding are exact inverses
    for arbitrary text incl. control characters and quote/backslash runs."""
    import re

    from entity_linkings_spark.sources.dumps import _split_tuples

    esc = re.sub(r"(['\\])", r"\\\1", s)
    for ch, letter in (("\n", "n"), ("\t", "t"), ("\r", "r"),
                       ("\x00", "0"), ("\x1a", "Z"), ("\x08", "b")):
        esc = esc.replace(ch, "\\" + letter)
    got = list(_split_tuples(f"('{esc}')"))
    assert got == [[s]]


@given(st.integers(0, 2**32 - 1), st.integers(1, 9))
@settings(max_examples=30, deadline=None)
def test_gemm_composite_key_orders_like_lexicographic(seed, k):
    """The int64 (score-micros << 24 | inverted-id-rank) key used by
    tfidf_topk_gemm must reproduce (score DESC, id-rank ASC) exactly —
    including massive tie classes (scores drawn from a tiny grid)."""
    rng = np.random.RandomState(seed)
    n = 50
    scores = np.round(rng.choice([0.0, 0.25, 0.5, 123.456789], size=n), 6)
    micros = np.round(scores * 1e6).astype(np.int64)
    anti_rank = (1 << 24) - 1 - np.arange(n, dtype=np.int64)
    key = (micros << 24) + anti_rank
    kk = min(k, n)
    top = np.argpartition(-key, kk - 1)[:kk]
    order = top[np.argsort(-key[top])]
    naive = sorted(range(n), key=lambda i: (-scores[i], i))[:kk]
    assert list(order) == naive


@given(st.floats(min_value=-1e5, max_value=1e5, allow_nan=False))
@settings(max_examples=80, deadline=None)
def test_round_half_up_matches_duckdb(x):
    """The IVF Lloyd refinement assumes python Decimal HALF_UP quantization
    of a double equals DuckDB's round() of the same double (both half away
    from zero over the EXACT binary value) — the cross-engine contract the
    refined codebook's determinism rests on."""
    import duckdb
    from decimal import ROUND_HALF_UP, Decimal

    eng = float(Decimal(x).quantize(Decimal("0.000001"), ROUND_HALF_UP))
    duck = duckdb.sql("SELECT round(?::DOUBLE, 6)", params=[x]).fetchone()[0]
    assert eng == duck


def _uf_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent.setdefault(parent[x], parent[x])
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(ms) for ms in comp.values() for n in ms}


def _inc_model(labels, delta):
    """Pure-python mirror of incremental_components' composition: map delta
    endpoints through old labels, solve the contracted graph, compose."""
    mapped = [(labels.get(u, u), labels.get(v, v)) for u, v in delta]
    merged = _uf_labels([(a, b) for a, b in mapped if a != b])
    out = {n: merged.get(lbl, lbl) for n, lbl in labels.items()}
    out.update({n: c for n, c in merged.items() if n not in labels})
    return out


@settings(max_examples=120, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 25), st.integers(0, 25)), max_size=50),
    st.integers(0, 100),
)
def test_incremental_cc_composition_invariant(edges_raw, split_pct):
    """The mathematical contract incremental_components rests on (its Spark
    form is tested against union-find separately): for ANY split of an edge
    set into old/delta, composing the delta through the old min-labels
    equals a full solve — because old labels are cluster minima, so the
    contracted component's min representative IS the global min."""
    edges = [(f"n{a:02d}", f"n{b:02d}") for a, b in edges_raw if a != b]
    cut = len(edges) * split_pct // 100
    old, delta = edges[:cut], edges[cut:]
    assert _inc_model(_uf_labels(old), delta) == _uf_labels(edges)


@settings(max_examples=80, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        st.integers(1, 1_000_000),
        min_size=1,
        max_size=5,
    ),
    st.floats(0.0, 1.0, allow_nan=False),
)
def test_temperature_rates_invariants(counts, tau):
    """temperature_rates: expected row mass is preserved (rates are q_s/p_s
    with q summing to 1) and flattening never up-weights a LARGER source
    above a smaller one for tau <= 1."""
    from fractions import Fraction

    from entity_linkings_spark.operators.sampling import temperature_rates

    r = temperature_rates(counts, tau, max_den=1_000_000)
    total = sum(counts.values())
    approx = sum(c * Fraction(*r[s]) for s, c in counts.items())
    assert abs(float(approx) - total) / total < 1e-3
    by_count = sorted(counts.items(), key=lambda kv: kv[1])
    fr = [Fraction(*r[s]) for s, _ in by_count]
    eps = Fraction(1, 100_000)
    for lo, hi in zip(fr, fr[1:]):
        assert lo >= hi - eps  # smaller source never below a bigger one


# --- URL canonicalization: model-based properties ---------------------------
# A pure-Python re model of the canonicalize_url chain (third independent
# implementation next to the Catalyst chain and the DuckDB oracle); the
# Spark==model equivalence is asserted over generated URLs in
# tests/test_functions.py::test_canonicalize_url_matches_python_model.

def canon_py(u: str) -> str:
    import re

    u = re.sub(r"#.*$", "", u)
    u = re.sub(r"^(?:[Hh][Tt][Tt][Pp][Ss]?://|[Ww][Ww][Ww]\.)+", "", u)
    m = re.match(r"^([^/?]*)", u)
    host = m.group(1).lower()
    u = host + u[len(host):]
    u = re.sub(r"([?&])(?:utm_[a-z]+|fbclid|gclid|ref)=[^&#]*", r"\1", u)
    u = re.sub(r"&&+", "&", u)
    u = re.sub(r"\?&", "?", u)
    u = re.sub(r"[?&]+$", "", u)
    return re.sub(r"/+$", "", u)


_LABEL = st.from_regex(r"[a-z0-9]([a-z0-9-]{0,6}[a-z0-9])?", fullmatch=True)
_PNAME = st.sampled_from(
    ["q", "id", "x", "href", "pref", "foo_utm_source", "utm_source",
     "utm_medium", "fbclid", "gclid", "ref", "refx", "page"]
)
_PVAL = st.from_regex(r"[A-Za-z0-9%._:/-]{0,10}", fullmatch=True)


@st.composite
def urls(draw):
    scheme = draw(st.sampled_from(["", "http://", "https://", "HTTP://", "HTTPS://"]))
    www = draw(st.sampled_from(["", "www.", "WWW.", "www.www."]))
    host = ".".join(draw(st.lists(_LABEL, min_size=1, max_size=3)))
    path = "/".join(draw(st.lists(_PVAL, max_size=3)))
    params = draw(st.lists(st.tuples(_PNAME, _PVAL), max_size=4))
    frag = draw(st.sampled_from(["", "#sec", "#a#b"]))
    u = scheme + www + host
    if path:
        u += "/" + path
    if params:
        u += "?" + "&".join(f"{k}={v}" for k, v in params)
    return u + frag


_TRACKING = {"fbclid", "gclid", "ref"}


@settings(max_examples=200, deadline=None)
@given(urls())
def test_canonicalize_model_idempotent(u):
    c = canon_py(u)
    assert canon_py(c) == c


@settings(max_examples=200, deadline=None)
@given(urls())
def test_canonicalize_model_strips_exactly_tracking_params(u):
    c = canon_py(u)
    q = c.split("?", 1)[1] if "?" in c else ""
    names = [p.split("=", 1)[0] for p in q.split("&") if p]
    # no tracking param survives ...
    assert not any(n in _TRACKING or n.startswith("utm_") for n in names)
    # ... and every non-tracking param of the INPUT survives in order
    inq = u.split("#", 1)[0]
    inq = inq.split("?", 1)[1] if "?" in inq else ""
    want = [p.split("=", 1)[0] for p in inq.split("&")
            if p and not (p.split("=", 1)[0] in _TRACKING
                          or p.split("=", 1)[0].startswith("utm_"))]
    assert names == want


def url_host_py(u: str) -> str:
    """Pure-Python model of functions/strings.py::url_host — the SAME
    repeated scheme/www alternation canonicalize_url uses (VERDICT r6 #4),
    then the host blob up to the first '/', '?' or '#', lowercased."""
    import re

    u = re.sub(r"^(?:[Hh][Tt][Tt][Pp][Ss]?://|[Ww][Ww][Ww]\.)+", "", u)
    return re.match(r"^([^/?#]*)", u).group(1).lower()


@settings(max_examples=300, deadline=None)
@given(urls())
def test_url_host_stable_under_canonicalization(u):
    # the invariant every url_host consumer (blocklist, per-domain quota,
    # dataprep) relies on: the host key is the same whether computed on
    # the raw URL or on its canonical dedup key — VERDICT r6 #4's
    # stacked-junk case ('http://http://x.com' -> 'http:' vs 'x.com')
    # falsified this before url_host adopted the repeated alternation
    assert url_host_py(canon_py(u)) == url_host_py(u)


def test_url_host_stacked_prefixes():
    cases = {
        "http://http://x.com": "x.com",            # the VERDICT r6 case
        "HTTPS://www.WWW.Example.COM/p/1": "example.com",
        "http://WWW.cdn.Example3.COM/p": "cdn.example3.com",
        "www.www.x.com?q=1": "x.com",
        "x.com#frag": "x.com",
        "news.www-ish.com/a": "news.www-ish.com",  # www mid-host survives
    }
    for u, want in cases.items():
        assert url_host_py(u) == want, u
        assert url_host_py(canon_py(u)) == want, u


def test_host_suffixes_python_model():
    # every label suffix, in order, nothing else — the equi-join expansion
    # contract filter_blocked_domains relies on
    for host in ("a.b.example.com", "example.com", "com", "x-y.z9.org"):
        parts = host.split(".")
        want = [".".join(parts[i:]) for i in range(len(parts))]
        assert all(host == s or host.endswith("." + s) for s in want)
        assert len(want) == len(parts)


# Pure-Python model of the sorted-gram-run substring family
# (operators/dedup.py duplicate_substring_runs / cut_duplicate_substring_runs);
# the Spark==model bridge sweeps seeded corpora in
# tests/test_dedup.py::test_substring_family_matches_python_model.

def substring_runs_py(docs: dict, k: int, min_len: int):
    holders: dict = {}
    for d, t in docs.items():
        w = t.split(" ")
        for i in range(len(w) - k + 1):
            holders.setdefault(" ".join(w[i:i + k]), set()).add(d)
    spans = []
    for d in docs:
        w = docs[d].split(" ")
        shared = [(i + 1, min(holders[" ".join(w[i:i + k])]))
                  for i in range(len(w) - k + 1)
                  if len(holders[" ".join(w[i:i + k])]) >= 2]
        runs: list = []
        for p, gm in shared:
            if runs and p - runs[-1][-1][0] <= k:
                runs[-1].append((p, gm))
            else:
                runs.append([(p, gm)])
        for r in runs:
            s, e = r[0][0], r[-1][0] + k
            if e - s >= min_len:
                spans.append((d, s, e, min(gm for _, gm in r)))
    return spans


def substring_cut_py(docs: dict, k: int, min_len: int) -> dict:
    cuts: dict = {}
    for d, s, e, gm in substring_runs_py(docs, k, min_len):
        if gm < d:
            cuts.setdefault(d, []).append((s, e))
    out = {}
    for d, t in docs.items():
        w = t.split(" ")
        kept = [tok for i, tok in enumerate(w, start=1)
                if not any(s <= i < e for s, e in cuts.get(d, []))]
        out[d] = " ".join(kept)
    return out


_RUNTOK = st.sampled_from([f"t{i}" for i in range(6)])


@st.composite
def run_corpora(draw):
    """3-5 docs of unique-by-construction tokens, plus ONE shared run of
    known length spliced into two of them at known offsets."""
    n_docs = draw(st.integers(3, 5))
    run_len = draw(st.integers(5, 12))
    run = [f"r{i}_{draw(st.integers(0, 2))}" for i in range(run_len)]
    docs = {}
    for d in range(n_docs):
        n = draw(st.integers(6, 15))
        docs[d + 1] = [f"u{d}_{j}" for j in range(n)]   # globally unique
    a, b = 1, draw(st.integers(2, n_docs))
    off_a = draw(st.integers(0, len(docs[a])))
    off_b = draw(st.integers(0, len(docs[b])))
    docs[a] = docs[a][:off_a] + run + docs[a][off_a:]
    docs[b] = docs[b][:off_b] + run + docs[b][off_b:]
    return ({d: " ".join(w) for d, w in docs.items()},
            (a, off_a + 1, run_len), (b, off_b + 1, run_len))


@settings(max_examples=150, deadline=None)
@given(run_corpora())
def test_substring_model_finds_planted_run_exactly(case):
    docs, (a, sa, L), (b, sb, _) = case
    spans = substring_runs_py(docs, k=3, min_len=L)
    got = {(d, s, e) for d, s, e, _ in spans}
    # the planted run is found at its exact offsets in BOTH docs, and
    # nothing else is flagged (all other tokens are globally unique)
    assert got == {(a, sa, sa + L), (b, sb, sb + L)}


@settings(max_examples=150, deadline=None)
@given(run_corpora())
def test_substring_cut_model_invariants(case):
    docs, _, _ = case
    out = substring_cut_py(docs, k=3, min_len=5)
    assert set(out) == set(docs)
    # the globally smallest doc id is NEVER modified (it is the minimum
    # holder of every gram it holds)
    assert out[min(docs)] == docs[min(docs)]
    # kept text is always a subsequence of the original
    for d in docs:
        it = iter(docs[d].split(" "))
        assert all(tok in it for tok in out[d].split(" ") if out[d])


def substring_cut_prefix_py(docs: dict, k: int, min_len: int) -> dict:
    """PREFIX model of streaming exact-substring dedup: each doc (ids in
    arrival order) is cut against the docs before it only — the contract
    streaming/incremental.py apply_substring_epoch implements epoch by
    epoch. The holder store indexes each doc's ORIGINAL grams (arrivals
    are indexed as they came, not as cut)."""
    holders: dict = {}
    out = {}
    for d in sorted(docs):
        w = docs[d].split(" ")
        grams = [" ".join(w[i:i + k]) for i in range(len(w) - k + 1)]
        flagged = [i + 1 for i, g in enumerate(grams)
                   if holders.get(g, d) < d]
        runs: list = []
        for p in flagged:
            if runs and p - runs[-1][-1] <= k:
                runs[-1].append(p)
            else:
                runs.append([p])
        cuts = [(r[0], r[-1] + k) for r in runs if r[-1] + k - r[0] >= min_len]
        out[d] = " ".join(tok for i, tok in enumerate(w, start=1)
                          if not any(s <= i < e for s, e in cuts))
        for g in grams:
            holders.setdefault(g, d)
    return out


@settings(max_examples=100, deadline=None)
@given(run_corpora())
def test_prefix_model_agrees_with_batch_on_planted_runs(case):
    # for the planted-run corpora (one run, two holders, unique rest) the
    # prefix and batch cut models agree doc-for-doc: the earlier holder
    # keeps, the later one is cut — the case where they MAY differ
    # (future-only sharing merging islands) cannot arise here
    docs, _, _ = case
    assert substring_cut_prefix_py(docs, 3, 5) == substring_cut_py(docs, 3, 5)
