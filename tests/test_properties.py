"""Property-based tests (hypothesis) for the invariant-bearing kernels —
a layer the reference's own test strategy lacks (SURVEY.md §5)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from nabu_spark.functions.bytesum import MASK64, bytesum_lines
from nabu_spark.functions.ntriples import (
    canonical_double,
    canonical_number,
    escape_literal,
    fmt_literal,
    split_triple,
    unescape_literal,
)
from nabu_spark.functions.skolem import skolemize_terms
from nabu_spark.functions.urn import make_urn, object_key

iri = st.from_regex(r"https?://[a-z]{1,10}\.org/[a-zA-Z0-9_\-]{1,12}", fullmatch=True)
bnode = st.from_regex(r"_:b[0-9]{1,3}", fullmatch=True)
literal_text = st.text(min_size=0, max_size=40)


@st.composite
def triple(draw):
    s = draw(st.one_of(iri.map(lambda x: f"<{x}>"), bnode))
    p = draw(iri.map(lambda x: f"<{x}>"))
    o = draw(
        st.one_of(
            iri.map(lambda x: f"<{x}>"),
            bnode,
            literal_text.map(lambda t: fmt_literal(t)),
        )
    )
    return (s, p, o)


class TestSkolemProperties:
    @given(st.lists(triple(), min_size=1, max_size=30))
    @settings(max_examples=200, deadline=None)
    def test_no_blank_nodes_survive(self, triples):
        out = skolemize_terms(triples)
        for s, p, o in out:
            assert not s.startswith("_:")
            assert not o.startswith("_:")

    @given(st.lists(triple(), min_size=1, max_size=20))
    @settings(max_examples=100, deadline=None)
    def test_order_invariant(self, triples):
        a = set(skolemize_terms(triples))
        b = set(skolemize_terms(list(reversed(triples))))
        assert a == b

    @given(st.lists(triple(), min_size=1, max_size=20))
    @settings(max_examples=100, deadline=None)
    def test_non_blank_terms_unchanged(self, triples):
        out = skolemize_terms(triples)
        for (s0, p0, o0), (s1, p1, o1) in zip(triples, out):
            assert p0 == p1
            if not s0.startswith("_:"):
                assert s0 == s1
            if not o0.startswith("_:"):
                assert o0 == o1


class TestLiteralProperties:
    @given(literal_text)
    @settings(max_examples=300)
    def test_escape_roundtrip(self, s):
        assert unescape_literal(escape_literal(s)) == s

    @given(st.floats(allow_nan=False, allow_infinity=False))
    @settings(max_examples=500)
    def test_canonical_double_roundtrips(self, v):
        lex = canonical_double(v)
        assert float(lex) == v  # shortest-repr mantissa must round-trip

    @given(st.floats(allow_nan=False, allow_infinity=False, min_value=-1e20, max_value=1e20))
    @settings(max_examples=300)
    def test_canonical_number_integer_rule(self, v):
        lex, dtype = canonical_number(v)
        if v == int(v) and abs(v) < 1e21:
            assert dtype.endswith("integer") and lex == str(int(v))
        else:
            assert dtype.endswith("double") and "E" in lex

    @given(literal_text.filter(lambda s: "\n" not in s and "\r" not in s))
    @settings(max_examples=200)
    def test_split_triple_inverse_of_format(self, s):
        line = f'<https://a.org/s> <https://a.org/p> {fmt_literal(s)} .'
        parts = split_triple(line)
        assert parts == ("<https://a.org/s>", "<https://a.org/p>", fmt_literal(s))


class TestBytesumProperties:
    @given(st.lists(st.text(max_size=30), min_size=0, max_size=20))
    @settings(max_examples=200)
    def test_permutation_invariant(self, lines):
        import random

        shuffled = list(lines)
        random.Random(0).shuffle(shuffled)
        assert bytesum_lines(lines) == bytesum_lines(shuffled)

    @given(st.lists(st.text(max_size=30), min_size=0, max_size=10),
           st.lists(st.text(max_size=30), min_size=0, max_size=10))
    @settings(max_examples=200)
    def test_concat_additive(self, a, b):
        assert bytesum_lines(a + b) == (bytesum_lines(a) + bytesum_lines(b)) & MASK64

    @given(st.lists(st.one_of(st.none(), st.text(max_size=30)), max_size=20),
           st.integers(0, 20), st.integers(0, 20), st.booleans())
    @settings(max_examples=300)
    def test_arrow_kernel_matches_oracle(self, texts, start, length, large):
        """The buffer-level release kernel equals the per-string oracle on
        multi-byte text, empty strings, nulls and sliced arrays."""
        import pyarrow as pa

        from nabu_spark.operators.release import utf8_bytesums

        arr = pa.array(texts, pa.large_string() if large else pa.string())
        arr = arr.slice(min(start, len(texts)), length)
        want = [0 if t is None else bytesum_lines([t]) - 10 for t in arr.to_pylist()]
        assert utf8_bytesums(arr).to_pylist() == want


class TestUrnProperties:
    @given(st.lists(st.from_regex(r"[a-zA-Z0-9_.\-]{1,10}", fullmatch=True), min_size=2, max_size=5))
    @settings(max_examples=200)
    def test_urn_segments(self, parts):
        urn = make_urn("/".join(parts))
        assert urn == "urn:iow:" + ":".join(parts)

    @given(st.from_regex(r"https?://[a-z]{1,8}\.org/[a-zA-Z0-9/_\-]{0,20}", fullmatch=True),
           st.from_regex(r"[a-z0-9_]{1,10}", fullmatch=True))
    @settings(max_examples=300, deadline=None)
    def test_doc_to_quads_never_raises_on_any_key(self, url, sitemap_id):
        """Std-base64 keys may contain '//' which makes make_urn error (the
        reference errors per-object, urn.go:31-49); the pipeline must turn
        that into an error row, never a raised exception."""
        from nabu_spark.operators.triples import doc_to_quads

        key = object_key(sitemap_id, url)
        doc = '{"@context":"https://schema.org/","@id":"https://x.org/1","name":"n"}'
        quads, err, _ = doc_to_quads(doc, key)
        if "//" in key:
            assert err == "invalid_key" and quads == []
        else:
            assert err == "" and quads
            assert all(g.startswith("<urn:iow:summoned:") for _, _, _, g in quads)


class TestCrossProcessDeterminism:
    """Band/shingle hashes must not depend on PYTHONHASHSEED: the dictionary
    index is built driver-side (randomized seed) while executor workers run
    with Spark's pinned seed — builtin hash() would silently split buckets
    (VERDICT r01 'What's wrong' #3)."""

    _CODE = (
        "from nabu_spark.operators.dedup import ("
        "_perm_params, minhash_signature, _band_mixers, band_hashes, shingles_of);"
        "from nabu_spark.operators.entitylink import char_shingles;"
        "a,b=_perm_params(128);"
        "sig=minhash_signature(shingles_of('the quick brown fox jumps over the lazy dog and runs away'),a,b);"
        "print(band_hashes(sig,32,_band_mixers(4)).tolist());"
        "print(sorted(char_shingles('ab')));"
        "print(sorted(char_shingles('municipal water district')))"
    )

    def test_band_and_shingle_hashes_stable_across_hashseed(self):
        import os
        import subprocess
        import sys

        outs = []
        for seed in ("1", "271828"):
            env = dict(os.environ, PYTHONHASHSEED=seed)
            r = subprocess.run(
                [sys.executable, "-c", self._CODE],
                capture_output=True,
                text=True,
                env=env,
                cwd="/root/repo",
            )
            assert r.returncode == 0, r.stderr
            outs.append(r.stdout)
        assert outs[0] == outs[1]


class TestTurtleProperties:
    """Property tests for the shapes-subset Turtle parser."""

    @given(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_characters='"\\\r'
            ),
            max_size=60,
        )
    )
    @settings(max_examples=150, deadline=None)
    def test_string_literal_roundtrip(self, s):
        from nabu_spark.functions.ntriples import unescape_literal
        from nabu_spark.functions.turtle import parse_turtle

        escaped = (
            s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
            .replace("\t", "\\t")
        )
        ttl = f'@prefix ex: <http://e.org/> .\nex:s ex:p "{escaped}" .'
        triples = parse_turtle(ttl)
        assert len(triples) == 1
        term = triples[0][2]
        assert term.startswith('"') and term.endswith('"')
        assert unescape_literal(term[1:-1]) == s

    @given(st.integers(min_value=-10**9, max_value=10**9))
    @settings(max_examples=50, deadline=None)
    def test_integer_literals(self, n):
        from nabu_spark.functions.turtle import parse_turtle

        triples = parse_turtle(
            f"@prefix ex: <http://e.org/> .\nex:s ex:p {n} ."
        )
        assert triples[0][2] == (
            f'"{n}"^^<http://www.w3.org/2001/XMLSchema#integer>'
        )

    @given(
        st.lists(
            st.text(alphabet="abcdefgh", min_size=1, max_size=6),
            min_size=0,
            max_size=6,
        )
    )
    @settings(max_examples=80, deadline=None)
    def test_collection_roundtrip(self, items):
        """(...) collections parse into a well-formed rdf:first/rest chain
        preserving order."""
        from nabu_spark.functions.turtle import (
            RDF_FIRST,
            RDF_NIL,
            RDF_REST,
            parse_turtle,
        )

        body = " ".join(f'"{x}"' for x in items)
        triples = parse_turtle(
            f"@prefix ex: <http://e.org/> .\nex:s ex:p ( {body} ) ."
        )
        heads = [o for s, p, o in triples if p == "<http://e.org/p>"]
        assert len(heads) == 1
        firsts = {s: o for s, p, o in triples if p == RDF_FIRST}
        rests = {s: o for s, p, o in triples if p == RDF_REST}
        cur, seen = heads[0], []
        while cur != RDF_NIL:
            seen.append(firsts[cur][1:-1])
            cur = rests[cur]
        assert seen == items


# --- fast-path parser equivalence fuzzing ------------------------------------

# alphabet biased toward markup metachars + the letters of script/style/head/
# body/div/meta so random fragments frequently form (near-)tags
_html_fragment = st.text(
    alphabet="abAB <>&/=\"'!-;\n\tscriptlehdbodyvm",
    min_size=0,
    max_size=120,
)
_tag_soup = st.lists(
    st.sampled_from(
        [
            "<head>", "</head>", "<body>", "<div>", "</div>", "<meta x=1>",
            '<script type="application/ld+json">', "<script>", "</script>",
            "<style>", "</style>", "<title>", "</title>", "<!doctype html>",
            "<!-- c -->", "text &amp; more", '{"a":1}', "a < b", "&#65;",
            '<script type="application/ld+json"/>', "< notag", "</ script >",
        ]
    ),
    min_size=0,
    max_size=14,
).map("".join)


class TestFastPathFuzz:
    @given(doc=st.one_of(_tag_soup, _html_fragment))
    @settings(max_examples=300, deadline=None)
    def test_scanner_positive_results_match_parser(self, doc):
        import nabu_spark.functions.html_extract as hx

        res = hx._scan_fast(doc)
        if res is hx._BAIL:
            return  # bail is always allowed
        p = hx._HeadJsonLdParser()
        try:
            p.feed(doc)
            p.close()
        except Exception:
            pass
        assert res == p.result or (res is None and p.result is None), doc

    @given(doc=st.one_of(_tag_soup, _html_fragment))
    @settings(max_examples=300, deadline=None)
    def test_fast_tree_matches_stdlib_tree(self, doc):
        import nabu_spark.functions.domtree as dt

        fast = dt._fast_tree(doc)
        if fast is None:
            return
        b = dt._TreeBuilder()
        try:
            b.feed(doc)
            b.close()
        except Exception:
            pass

        def eq(x, y):
            if isinstance(x, str) or isinstance(y, str):
                return x == y
            return (
                x.tag == y.tag
                and x.attrs == y.attrs
                and len(x.children) == len(y.children)
                and all(eq(a, c) for a, c in zip(x.children, y.children))
            )

        assert eq(fast, b.root), doc


class TestBpeProperties:
    words = st.from_regex(r"[a-z]{1,12}", fullmatch=True)

    @given(st.lists(st.tuples(words, st.integers(1, 50)), min_size=1, max_size=25))
    @settings(max_examples=100, deadline=None)
    def test_encode_concatenates_back_to_word(self, freqs):
        from nabu_spark.operators.bpe import (
            END,
            encode_word,
            train_bpe_from_frequencies,
        )

        merges = train_bpe_from_frequencies(freqs, n_merges=30, min_pair_freq=1)
        ranks = {p: i for i, p in enumerate(merges)}
        for w, _ in freqs:
            pieces = encode_word(w, ranks)
            assert "".join(pieces) == w + END

    @given(st.lists(st.tuples(words, st.integers(1, 50)), min_size=1, max_size=20))
    @settings(max_examples=60, deadline=None)
    def test_training_is_order_invariant(self, freqs):
        from nabu_spark.operators.bpe import train_bpe_from_frequencies

        # duplicate words collapse identically regardless of list order
        dedup = {}
        for w, c in freqs:
            dedup[w] = dedup.get(w, 0) + c
        items = list(dedup.items())
        a = train_bpe_from_frequencies(items, n_merges=20, min_pair_freq=1)
        b = train_bpe_from_frequencies(list(reversed(items)), n_merges=20, min_pair_freq=1)
        assert a == b

    @given(st.lists(st.tuples(words, st.integers(1, 9)), min_size=1, max_size=15))
    @settings(max_examples=60, deadline=None)
    def test_merges_only_shrink_piece_counts(self, freqs):
        from nabu_spark.operators.bpe import (
            encode_word,
            train_bpe_from_frequencies,
        )

        merges = train_bpe_from_frequencies(freqs, n_merges=25, min_pair_freq=1)
        for cut in (0, len(merges) // 2, len(merges)):
            ranks = {p: i for i, p in enumerate(merges[:cut])}
            longer = {p: i for i, p in enumerate(merges)}
            for w, _ in freqs:
                assert len(encode_word(w, longer)) <= len(encode_word(w, ranks))


class TestContainerFuzz:
    """Hostile-input properties for the round-4 container parsers and the
    encoding repair: parsers either parse or raise MediaDecodeError —
    never hang, loop, or throw anything else; repair never corrupts."""

    @given(st.integers(1, 64), st.integers(1, 64), st.integers(1, 40),
           st.integers(0, 1 << 31))
    @settings(max_examples=30, deadline=None)
    def test_mp4_roundtrip_any_shape(self, w, h, frames, i):
        from nabu_spark.operators.multimodal import mp4_metadata, synth_mp4

        m = mp4_metadata(synth_mp4(i, w, h, frames))
        (t,) = m["tracks"]
        assert (t["width"], t["height"], t["n_samples"]) == (w, h, frames)
        assert m["mdat_bytes"] == w * h * frames
        assert len(t["keyframe_offsets"]) == (frames + 7) // 8

    @given(st.binary(min_size=0, max_size=300))
    @settings(max_examples=300, deadline=None)
    def test_mp4_parser_never_crashes(self, blob):
        from nabu_spark.operators.multimodal import (
            MediaDecodeError,
            mp4_metadata,
        )

        try:
            mp4_metadata(b"\x00\x00\x00\x10ftypisom" + blob)
        except MediaDecodeError:
            pass

    @given(st.binary(min_size=0, max_size=300))
    @settings(max_examples=300, deadline=None)
    def test_ogg_parser_never_crashes(self, blob):
        from nabu_spark.operators.multimodal import (
            MediaDecodeError,
            ogg_metadata,
        )

        try:
            ogg_metadata(b"OggS" + blob)
        except MediaDecodeError:
            pass

    @given(st.integers(6000, 48000), st.integers(1, 5000), st.integers(0, 1 << 31))
    @settings(max_examples=30, deadline=None)
    def test_ogg_roundtrip_any_shape(self, rate, n_samples, i):
        from nabu_spark.operators.multimodal import ogg_metadata, synth_ogg

        m = ogg_metadata(synth_ogg(i, rate, n_samples))
        assert m["sample_rate"] == rate and m["n_samples"] == n_samples
        assert m["payload_bytes"] == 2 * n_samples

    @given(st.text(max_size=200))
    @settings(max_examples=500, deadline=None)
    def test_fix_text_total_and_idempotent(self, s):
        from nabu_spark.operators.encoding import fix_text

        fixed, rounds = fix_text(s)
        assert 0 <= rounds <= 3
        # idempotent: a repaired string is a fixed point
        assert fix_text(fixed)[0] == fixed
        # ASCII is always untouched
        if s.isascii():
            assert fixed == s and rounds == 0

    @given(st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x2122,
                               blacklist_characters="\x7f"),
        max_size=80,
    ))
    @settings(max_examples=300, deadline=None)
    def test_fix_text_inverts_corruption_when_encodable(self, s):
        from nabu_spark.operators.encoding import corrupt_text, fix_text

        try:
            corrupted = corrupt_text(s)
        except UnicodeDecodeError:
            return  # hits a cp1252 hole — corrupter itself cannot produce it
        fixed, _ = fix_text(corrupted)
        # the repair must recover the original UNLESS the original was
        # already a fixable-looking string (double-corruption ambiguity:
        # fix may peel one extra layer, which is then also a fixed point)
        assert fixed in (s, fix_text(s)[0])

    @given(st.binary(min_size=0, max_size=400))
    @settings(max_examples=200, deadline=None)
    def test_html_text_never_crashes(self, blob):
        from nabu_spark.functions.html_text import extract_main_text

        text, kept, dropped = extract_main_text(blob)
        assert isinstance(text, str) and kept >= 0 and dropped >= 0


class TestTurtleSerializer:
    """serialize_turtle <-> parse_turtle roundtrip (decoded-lexical
    equality — the two sides' escape conventions are exact inverses)."""

    @staticmethod
    def _norm(t):
        import re

        from nabu_spark.functions.ntriples import unescape_literal

        m = re.match(r'\A"(.*)"(@[A-Za-z0-9-]+|\^\^<[^<>]*>)?\Z', t, re.S)
        return t if not m else (unescape_literal(m.group(1)),
                                m.group(2) or "")

    def _roundtrip(self, g, prefixes=None):
        from nabu_spark.functions.turtle import parse_turtle, serialize_turtle

        ttl = serialize_turtle(g, prefixes)
        back = parse_turtle(ttl)
        a = {tuple(self._norm(x) for x in t) for t in back}
        b = {tuple(self._norm(x) for x in t) for t in g}
        assert a == b, f"\n{ttl}\n extra={a - b}\n missing={b - a}"
        return ttl

    def test_fixed_graph_roundtrip_and_layout(self):
        from nabu_spark.functions.turtle import RDF_TYPE

        g = [
            ("<urn:x:a>", RDF_TYPE, "<urn:x:C>"),
            ("<urn:x:a>", "<urn:x:p>", '"he said \\"hi\\"\\nnl"'),
            ("<urn:x:a>", "<urn:x:p>", '"fr"@fr'),
            ("<urn:x:a>", "<urn:x:q>",
             '"3"^^<http://www.w3.org/2001/XMLSchema#integer>'),
            ("_:b0", "<urn:x:p>", "<urn:x:a>"),
        ]
        ttl = self._roundtrip(
            g, {"x": "urn:x:", "xsd": "http://www.w3.org/2001/XMLSchema#"})
        assert "x:a a x:C ;" in ttl          # rdf:type first, compacted
        assert '"3"^^xsd:integer' in ttl     # datatype compaction
        assert ttl == self._roundtrip(
            list(reversed(g)),
            {"x": "urn:x:", "xsd": "http://www.w3.org/2001/XMLSchema#"},
        )  # deterministic under input order

    def test_random_graphs_roundtrip(self):
        import random

        rng = random.Random(11)
        lexes = ["plain", 'q"uote', "back\\slash", "new\nline", "tab\there",
                 "uni\u00e9"]
        for _ in range(20):
            g = set()
            for _ in range(rng.randint(1, 12)):
                s = rng.choice(["<urn:s:1>", "<urn:s:2>", "_:bn"])
                p = rng.choice(["<urn:p:a>", "<urn:p:b>"])
                kind = rng.random()
                if kind < 0.4:
                    o = rng.choice(["<urn:o:x>", "_:bo"])
                else:
                    lex = rng.choice(lexes).replace("\\", "\\\\") \
                        .replace('"', '\\"').replace("\n", "\\n") \
                        .replace("\t", "\\t")
                    o = f'"{lex}"'
                    if kind < 0.6:
                        o += "@en-GB"
                    elif kind < 0.8:
                        o += "^^<urn:dt:d>"
                g.add((s, p, o))
            self._roundtrip(sorted(g))

    def test_parser_language_tags(self):
        from nabu_spark.functions.turtle import parse_turtle

        got = parse_turtle(
            '@prefix x: <urn:x:> . x:a x:p "hi"@en-GB, "ho" .')
        objs = sorted(o for _, _, o in got)
        assert objs == ['"hi"@en-GB', '"ho"']

    def test_void_description_roundtrips(self, spark):
        from nabu_spark.functions.turtle import parse_turtle, serialize_turtle
        from nabu_spark.operators.stats import void_triples

        df = spark.createDataFrame(
            [("<urn:a>", "<urn:p>", '"x"'), ("<urn:b>", "<urn:p>", '"y"')],
            "subj string, pred string, obj string")
        rows = [tuple(r) for r in void_triples(df, "<urn:ds>").collect()]
        ttl = serialize_turtle(rows, {"void": "http://rdfs.org/ns/void#"})
        assert "void:triples" in ttl
        assert {tuple(t) for t in parse_turtle(ttl)} == set(rows)
