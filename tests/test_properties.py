"""Property-based tests (hypothesis): invariants that unit fixtures
can't sweep — random unicode inputs through the Python golden twins
and the Catalyst expressions.

SURVEY §5.2: the reference's tests are example-based; the per-row
invariants here (token-count parity, packer budget/round-trip) are the
contracts the 10^12-doc job relies on for EVERY row, so they get
generative coverage.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from kgc.segment import segment_document_py
from kgc.tokenizer import count_tokens_py, split_tokens_py

# printable-ish unicode incl. whitespace variety, accents, punctuation
_CHARS = (
    "".join(chr(c) for c in range(0x20, 0x7F))
    + "".join(chr(c) for c in range(0xA0, 0x180))
    + "".join(chr(c) for c in range(0x2018, 0x2020))
    + "\t\n\r"
)
TEXT = st.text(alphabet=_CHARS, max_size=400)


class TestTokenizerProperties:
    @given(TEXT)
    @settings(max_examples=300, deadline=None)
    def test_count_is_fields_count(self, t):
        # count_tokens_py == len(strings.Fields): runs of non-whitespace
        assert count_tokens_py(t) == len(t.split())

    @given(TEXT)
    @settings(max_examples=300, deadline=None)
    def test_split_tokens_never_empty_or_separator(self, t):
        import unicodedata

        toks = split_tokens_py(t)
        for tok in toks:
            assert tok != ""
            for ch in tok:
                assert not ch.isspace()
                assert not unicodedata.category(ch).startswith("P")

    @given(TEXT)
    @settings(max_examples=300, deadline=None)
    def test_split_tokens_preserve_order_and_content(self, t):
        # concatenated tokens == input minus whitespace and punctuation
        import unicodedata

        kept = "".join(
            ch
            for ch in t
            if not ch.isspace() and not unicodedata.category(ch).startswith("P")
        )
        assert "".join(split_tokens_py(t)) == kept


WORDS = st.lists(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8),
    min_size=0,
    max_size=60,
)


class TestPackerProperties:
    @given(st.lists(WORDS.map(" ".join), min_size=1, max_size=8), st.integers(2, 40))
    @settings(max_examples=200, deadline=None)
    def test_budget_respected_and_content_preserved(self, texts, max_tokens):
        spans = [
            {"kind": "paragraph", "text": t, "media_ref": None, "offset": i}
            for i, t in enumerate(texts)
        ]
        segs = segment_document_py(spans, max_tokens=max_tokens)
        # 1. every segment respects the budget (split chunks are ≤
        #    budget by construction too)
        for s in segs:
            assert s["n_tokens"] <= max_tokens, (s, max_tokens)
        # 2. no token lost or invented.  NOT order: the reference's
        #    no-flush-before-oversized branch (segmenter.go, replicated
        #    branch-exact) emits an oversized element's chunks BEFORE
        #    the open buffer, so order flips around oversized spans.
        got = sorted(w for s in segs for w in s["seg_text"].split())
        want = sorted(w for t in texts for w in t.split())
        assert got == want
        # 3. order IS preserved when nothing is oversized
        if all(len(t.split()) <= max_tokens for t in texts):
            got_o = [w for s in segs for w in s["seg_text"].split()]
            want_o = [w for t in texts for w in t.split()]
            assert got_o == want_o
        # 4. seg_ids are contiguous from 0
        assert [s["seg_id"] for s in segs] == list(range(len(segs)))

    @given(WORDS, st.integers(1, 10))
    @settings(max_examples=200, deadline=None)
    def test_single_oversized_span_splits_cleanly(self, words, max_tokens):
        text = " ".join(words)
        spans = [{"kind": "paragraph", "text": text, "media_ref": None, "offset": 0}]
        segs = segment_document_py(spans, max_tokens=max_tokens)
        got = [w for s in segs for w in s["seg_text"].split()]
        assert got == words
        for s in segs:
            assert s["n_tokens"] <= max_tokens


_JL_KEYS = st.sampled_from(
    ["name", "startDate", "datePublished", "keywords", "a", "b", "été"]
)
_JL_SCALARS = st.one_of(
    st.text(alphabet=_CHARS, max_size=24),
    st.integers(-10**6, 10**6),
    st.booleans(),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.none(),
    st.sampled_from(["2024-02-29", "2023-02-29", "2024-13-01", ""]),
)
_JL_VALUES = st.recursive(
    _JL_SCALARS,
    lambda kids: st.one_of(
        st.lists(kids, max_size=3),
        st.dictionaries(keys=_JL_KEYS, values=kids, max_size=3),
    ),
    max_leaves=12,
)
_JL_NODE = st.dictionaries(keys=_JL_KEYS, values=_JL_VALUES, max_size=5)


class TestJsonldFlattenParity:
    """The distributed from_jsonld kernel must equal the trusted
    driver-side fixture loader (kgc.golden.flatten_node) on EVERY
    @id-free JSON-LD node, not just the two committed fixtures —
    generative coverage over nested dicts/lists/scalars including
    date-typed predicates and empty-string drops."""

    @given(_JL_NODE)
    @settings(max_examples=300, deadline=None)
    def test_matches_golden_flatten(self, node):
        from kgc.golden import flatten_node
        from kgc.triples import flatten_jsonld_node

        got = flatten_jsonld_node("d1", 3, node)
        want = [(s, p, o, t) for _, _, s, p, o, t in flatten_node("d1", 3, node)]
        assert got == want


class TestSparqlParserTotality:
    """The front-end's contract is parse-or-ValueError — a silent
    mis-parse OR an unhandled IndexError against a 10^12-row table are
    both unacceptable.  Fuzz arbitrary token soup (heavy on the
    grammar's own punctuation) and assert totality."""

    @given(
        st.sampled_from([
            "", "SELECT ", "SELECT ?g (COUNT(", "SELECT (SUM(STRLEN(?x)) AS ?s) ",
            "SELECT ?g (GROUP_CONCAT(?x; SEPARATOR=",
            "SELECT ?g (COUNT(?x) AS ?n) WHERE { ?g p ?x } GROUP BY ",
            "SELECT ?g (COUNT(?x) AS ?n) WHERE { ?g p ?x } GROUP BY ?g HAVING ",
            "CONSTRUCT ", "CONSTRUCT { ?a p ?b } ", "CONSTRUCT WHERE ",
            "ASK ", "ASK WHERE ", "DESCRIBE ", "DESCRIBE ?a ",
        ]),
        st.text(
            alphabet=_CHARS + '{}()?<>"*+|.,;!&=/^#\n'
            + "SELECTWHEREUNIONVALUESGRAPHBINDFILTERINFCONSTRUCTASKDESCRIBEGROUPBYHAVINGCOUNT",
            max_size=120,
        ),
    )
    @settings(max_examples=500, deadline=None)
    def test_parse_sparql_never_crashes(self, head, s):
        from kgc.graph import parse_sparql

        try:
            parse_sparql(head + s)
        except ValueError:
            pass

    @given(st.text(alphabet=_CHARS + '{}()?<>"', max_size=80))
    @settings(max_examples=200, deadline=None)
    def test_parse_with_valid_prefix_never_crashes(self, tail):
        from kgc.graph import parse_sparql

        try:
            parse_sparql("SELECT ?a WHERE { ?a p ?b . " + tail)
        except ValueError:
            pass


class TestSparqlTermKinds:
    """parse_sparql reads each token's kind once: a drawn term of any
    kind parses to the same (tag, value) wherever a term can stand — a
    pattern's subject, predicate and object, a VALUES cell, an IN item,
    a FILTER side, a DESCRIBE term and a CONSTRUCT template term."""

    @staticmethod
    def _quote(v):
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"').replace(
            "\n", "\\n"
        ).replace("\t", "\\t") + '"'

    _TERMS = st.one_of(
        st.from_regex(r"[a-z][a-z0-9_]{0,5}", fullmatch=True).map(
            lambda n: ("?" + n, ("var", n))
        ),
        st.from_regex(r"[a-z]{1,4}:[a-z0-9/#._-]{0,8}", fullmatch=True).map(
            lambda v: ("<" + v + ">", ("lit", v))
        ),
        st.text(alphabet='ab ?#+|^/\\"\n\tx', max_size=8).map(
            lambda v: (TestSparqlTermKinds._quote(v), ("lit", v))
        ),
        st.from_regex(r"-?[0-9]{1,4}(\.[0-9]{1,3})?", fullmatch=True).map(
            lambda v: (v, ("num", v))
        ),
        # bare names: prefixed-name style, so no keyword reads as one
        st.from_regex(r"[a-z]{1,3}:[a-z0-9]{0,4}", fullmatch=True).map(
            lambda v: (v, ("lit", v))
        ),
    )

    @given(_TERMS)
    @settings(max_examples=200, deadline=None)
    def test_term_parses_to_its_kind_everywhere(self, drawn):
        import pytest as _pt

        from kgc.graph import parse_sparql

        text, want = drawn
        q = parse_sparql(
            f"SELECT * WHERE {{ {text} ?p ?o . ?s {text} ?o . ?s ?p {text} }}"
        )
        (_, pats), = q["where"]
        assert [pats[0][0], pats[1][1], pats[2][2]] == [want] * 3
        values = f"SELECT * WHERE {{ ?s ?p ?o VALUES ?o {{ {text} }} }}"
        if want[0] == "var":
            with _pt.raises(ValueError, match="VALUES"):
                parse_sparql(values)
        else:
            assert parse_sparql(values)["where"][1] == ("values", ["o"], [(want,)])
        q = parse_sparql(
            f"SELECT * WHERE {{ ?s ?p ?o FILTER (?o IN ({text})) "
            f"FILTER (?o = {text}) }}"
        )
        assert q["where"][1:] == [
            ("filter", ("in", "o", [want], True)),
            ("filter", ("cmp", ("var", "o"), "=", want)),
        ]
        q = parse_sparql(f"DESCRIBE {text} WHERE {{ ?s ?p ?o }}")
        assert q["describe"] == [want]
        q = parse_sparql(f"CONSTRUCT {{ ?s ?p {text} }} WHERE {{ ?s ?p ?o }}")
        assert q["template"] == [(("var", "s"), ("var", "p"), want)]


class TestSparqlDifferential:
    """Differential testing of the SPARQL ALGEBRA: random tiny KGs and
    random connected queries, evaluated by the engine (_solve on a
    hand-built WHERE tree — the parser has its own totality fuzz) AND by
    a naive nested-loop reference evaluator with spec bag semantics.
    The OPTIONAL / UNION / VALUES / MINUS / BIND elements come in a drawn
    text order, and FILTER / EXISTS elements at drawn positions; the
    reference folds the elements in that same order with FILTER and
    EXISTS at the group's end (spec §18.2.2).  Covers the join
    planner's selectivity reorder, left joins, UNION padding, the
    compatibility join over possibly-unbound shared variables, BIND
    over a not-yet-bound variable, and FILTER error-propagation
    (unbound → drop)."""

    _SUBS = ["s0", "s1", "s2"]
    _PREDS = ["p0", "p1"]
    _OBJS = ["o0", "o1", "s0", "s1"]  # overlap with subjects → chains

    # ---- naive reference evaluator (bag semantics) ----

    @staticmethod
    def _match(pat, row, binding):
        b = dict(binding)
        for term, val in zip(pat, row):
            if term.startswith("?"):
                name = term[1:]
                if name in b and b[name] != val:
                    return None
                b[name] = val
            elif term != val:
                return None
        return b

    @classmethod
    def _solve_bgp(cls, rows, pats):
        sols = [dict()]
        for pat in pats:
            sols = [
                m for b in sols for row in rows
                if (m := cls._match(pat, row, b)) is not None
            ]
        return sols

    @staticmethod
    def _merge(b, u):
        """Spec compatibility (None = unbound matches anything): the
        merged solution, or None when some shared var disagrees."""
        if any(
            b[v] is not None and u[v] is not None and b[v] != u[v]
            for v in b.keys() & u.keys()
        ):
            return None
        merged = dict(b)
        for v, x in u.items():
            if merged.get(v) is None:
                merged[v] = x
        return merged

    @classmethod
    def _naive_join(cls, sols, others):
        return [
            m for b in sols for u in others
            if (m := cls._merge(b, u)) is not None
        ]

    @classmethod
    def _naive_left_join(cls, sols, others, ovars):
        out = []
        for b in sols:
            ms = [m for u in others if (m := cls._merge(b, u)) is not None]
            out.extend(ms or [{**{v: None for v in ovars}, **b}])
        return out

    @classmethod
    def _naive_minus(cls, rows, sols, mpat):
        mvars = {t[1:] for t in mpat if t.startswith("?")}
        msols = cls._solve_bgp(rows, [mpat])
        out = []
        for b in sols:
            shared = [v for v in mvars if v in b]
            hit = any(
                all(b[v] is None or b[v] == m[v] for v in shared)
                and any(b[v] is not None for v in shared)  # dom overlap
                for m in msols
            )
            if not hit:
                out.append(b)
        return out

    @classmethod
    def _naive_exists(cls, rows, sols, positive, epat):
        evars = {t[1:] for t in epat if t.startswith("?")}
        out = []
        for b in sols:
            shared = [v for v in evars if v in b]
            sub = {v: b[v] for v in shared if b[v] is not None}
            sat = any(
                cls._match(epat, row, sub) is not None for row in rows
            )
            if sat == positive:
                out.append(b)
        return out

    @classmethod
    def _naive(cls, rows, required, elements, distinct):
        """Fold the elements in text order; FILTER and EXISTS last."""
        sols = cls._solve_bgp(rows, required)
        tail = [el for el in elements if el[0] in ("exists", "filter")]
        for kind, arg in elements:
            if kind == "optional":
                ovars = {t[1:] for t in arg if t.startswith("?")}
                sols = cls._naive_left_join(
                    sols, cls._solve_bgp(rows, [arg]), ovars
                )
            elif kind == "union":
                block_vars = sorted({
                    t[1:] for bp in arg for t in bp if t.startswith("?")
                })
                block = [
                    {v: u.get(v) for v in block_vars}
                    for bp in arg for u in cls._solve_bgp(rows, [bp])
                ]
                sols = cls._naive_join(sols, block)
            elif kind == "values":
                vvars, vrows = arg
                sols = cls._naive_join(
                    sols, [dict(zip(vvars, vr)) for vr in vrows]
                )
            elif kind == "minus":
                sols = cls._naive_minus(rows, sols, arg)
            elif kind == "bind":
                new_var, src_var, suffix = arg
                sols = [
                    {**b, new_var: (None if b.get(src_var) is None
                                    else b[src_var] + suffix)}
                    for b in sols
                ]
        for kind, arg in tail:
            if kind == "exists":
                sols = cls._naive_exists(rows, sols, *arg)
                continue
            import operator as _op

            var, op, const = arg
            f = {"=": _op.eq, "!=": _op.ne, "<": _op.lt, ">": _op.gt}[op]
            sols = [
                b for b in sols
                if b.get(var) is not None and f(b[var], const)
            ]
        if distinct:
            seen, out = set(), []
            for b in sols:
                key = tuple(sorted(b.items(), key=lambda kv: kv[0]))
                if key not in seen:
                    seen.add(key)
                    out.append(b)
            sols = out
        return sols

    # ---- strategies ----

    @staticmethod
    def _term(draw, pool, vars_, p_var):
        import hypothesis.strategies as _st

        if draw(_st.floats(0, 1)) < p_var:
            return "?" + draw(_st.sampled_from(vars_))
        return draw(_st.sampled_from(pool))

    @given(st.data())
    @settings(max_examples=40, deadline=None)
    def test_engine_equals_naive(self, spark, data):
        from kgc.graph import _finish_select, _solve

        draw = data.draw
        rows = draw(
            st.lists(
                st.tuples(
                    st.sampled_from(self._SUBS),
                    st.sampled_from(self._PREDS),
                    st.sampled_from(self._OBJS),
                ),
                min_size=0, max_size=10,
            )
        )
        vars_ = ["a", "b", "c"]
        p1 = (
            self._term(draw, self._SUBS, vars_[:1], 0.8),
            draw(st.sampled_from(self._PREDS)),
            self._term(draw, self._OBJS, vars_[1:2], 0.8),
        )
        req_vars = [t[1:] for t in p1 if t.startswith("?")]
        if not req_vars:
            # keep the group connectable: force one variable
            p1 = (p1[0], p1[1], "?b")
            req_vars = ["b"]
        required = [p1]
        if draw(st.booleans()):
            shared = draw(st.sampled_from(req_vars))
            p2 = (
                "?" + shared,
                draw(st.sampled_from(self._PREDS)),
                self._term(draw, self._OBJS, ["c"], 0.7),
            )
            required.append(p2)
            req_vars = sorted({
                t[1:] for p in required for t in p if t.startswith("?")
            })
        kinds = [
            k for k in ("optional", "union", "values", "minus", "bind",
                        "exists", "filter")
            if draw(st.booleans())
        ]
        kinds = draw(st.permutations(kinds))  # the text order
        # variables an element may mention; joins that need a shared
        # variable draw it from those bound at their point in the text
        all_vars = req_vars + ["optv"] * ("optional" in kinds) + (
            ["u"] * ("union" in kinds)
        )
        later = [v for v in all_vars if v not in req_vars]

        def order_var():
            # half the time a var some OTHER element binds: where it
            # sits in the text then changes the answer
            pool = later if later and draw(st.booleans()) else all_vars
            return draw(st.sampled_from(pool))

        bound = set(req_vars)
        elements = []
        for kind in kinds:
            if kind == "optional":
                shared = draw(st.sampled_from(req_vars))
                arg = ("?" + shared, draw(st.sampled_from(self._PREDS)), "?optv")
            elif kind == "union":
                # each branch shares a var bound at this point; it may be
                # a nullable one (OPTIONAL / VALUES UNDEF → compat join)
                arg = [
                    (
                        "?" + draw(st.sampled_from(sorted(bound))),
                        draw(st.sampled_from(self._PREDS)),
                        self._term(draw, self._OBJS, ["u"], 0.5),
                    )
                    for _ in range(2)
                ]
            elif kind == "values":
                vrows = draw(
                    st.lists(
                        st.tuples(
                            st.one_of(st.none(), st.sampled_from(self._OBJS))
                        ),
                        min_size=1, max_size=3,
                    )
                )
                arg = ([order_var()], vrows)
            elif kind == "minus":
                arg = (
                    "?" + order_var(),
                    draw(st.sampled_from(self._PREDS)),
                    self._term(draw, self._OBJS, ["m"], 0.5),
                )
            elif kind == "bind":
                # the source var may not be bound yet at this point
                arg = ("bv", order_var(), "_sfx")
            elif kind == "exists":
                arg = (
                    draw(st.booleans()),
                    (
                        "?" + order_var(),
                        draw(st.sampled_from(self._PREDS)),
                        self._term(draw, self._OBJS, ["x"], 0.5),
                    ),
                )
            else:  # filter
                arg = (
                    draw(st.sampled_from(req_vars)),
                    draw(st.sampled_from(["=", "!=", "<", ">"])),
                    draw(st.sampled_from(self._OBJS)),
                )
            elements.append((kind, arg))
            if kind in ("optional", "union"):
                pats = [arg] if kind == "optional" else arg
                bound |= {t[1:] for p in pats for t in p if t.startswith("?")}
            elif kind == "values":
                bound |= set(arg[0])
        distinct = draw(st.booleans())

        df = spark.createDataFrame(
            rows or [("zz", "zz", "zz")],  # createDataFrame needs >=1 row
            "subj string, pred string, obj string",
        )
        if not rows:
            df = df.filter("subj <> 'zz'")

        def pat(p):
            # the naive side's "?v" strings as parse_sparql's term tuples
            return tuple(
                ("var", t[1:]) if t.startswith("?") else ("lit", t) for t in p
            )

        def tree(kind, arg):
            if kind in ("optional", "minus"):
                return (kind, [("bgp", [pat(arg)])])
            if kind == "union":
                return ("union", [[("bgp", [pat(b)])] for b in arg])
            if kind == "values":
                vs, vrows = arg
                return ("values", vs, [
                    tuple(c if c is None else ("lit", c) for c in r)
                    for r in vrows
                ])
            if kind == "bind":
                nv, sv, sfx = arg
                return ("bind", nv, ("fn", "CONCAT", [("var", sv), ("lit", sfx)]))
            if kind == "exists":
                return ("exists", arg[0], [("bgp", [pat(arg[1])])])
            v, op, c = arg
            return ("filter", ("cmp", ("var", v), op, ("lit", c)))

        q = {
            "select": None, "distinct": distinct,
            "where": [("bgp", [pat(p) for p in required])]
            + [tree(*el) for el in elements],
            "order": [], "limit": None, "offset": None,
        }
        sol, nullable = _solve(df, q)
        sol, _ = _finish_select(sol, q, nullable)
        def keyed(rows_):
            return sorted(
                rows_,
                key=lambda t: [(k, v is None, v or "") for k, v in t],
            )

        got = keyed(
            tuple(sorted(r.asDict().items())) for r in sol.collect()
        )
        want_rows = self._naive(rows, required, elements, distinct)
        cols = set(sol.columns)
        want = keyed(
            tuple(sorted((k, v) for k, v in b.items() if k in cols))
            for b in want_rows
        )
        assert got == want, (rows, q, got, want)


class TestPathDifferential:
    """Differential testing of the property-path expansion: every path
    form evaluated by the engine (sparql_query text → _expand_property_
    paths) AND by a naive closure/composition evaluator, compared as
    solution MULTISETS (closure forms are distinct-pair per SPARQL ALP
    semantics; bag forms — inverse/alternation/negation/sequences —
    preserve input multiplicity)."""

    _SUBS = ["s0", "s1", "s2"]
    _PREDS = ["p0", "p1"]
    _OBJS = ["o0", "s0", "s1", "s2"]  # heavy overlap → real chains/cycles

    @classmethod
    def _naive_path(cls, rows, form):
        def E(p):
            return [(s, o) for s, pr, o in rows if pr == p]

        terms = sorted({t for s, _, o in rows for t in (s, o)})
        ident = [(t, t) for t in terms]

        def close_set(pairs):
            got = set(pairs)
            while True:
                new = {
                    (a, d) for (a, b) in got for (c, d) in got if b == c
                } - got
                if not new:
                    return sorted(got)
                got |= new

        def compose_set(e1, e2):
            return sorted({
                (a, d) for (a, b) in set(e1) for (c, d) in set(e2) if b == c
            })

        if form == "plus":
            return "p0+", close_set(E("p0"))
        if form == "star":
            return "p0*", close_set(E("p0")) + ident
        if form == "opt":
            return "p0?", E("p0") + ident
        if form == "inv":
            return "^p0", [(o, s) for s, o in E("p0")]
        if form == "alt":
            return "p0|p1", [
                (s, o) for s, p, o in rows if p in ("p0", "p1")
            ]
        if form == "neg":
            return "!(p0)", [(s, o) for s, p, o in rows if p != "p0"]
        if form == "seq":
            return "p0/p1", [
                (a, d) for a, b in E("p0") for c, d in E("p1") if b == c
            ]
        if form == "seqinv":
            inv = [(o, s) for s, o in E("p0")]
            return "^p0/p1", [
                (a, d) for a, b in inv for c, d in E("p1") if b == c
            ]
        comp = compose_set(E("p0"), E("p1"))
        if form == "gplus":
            return "(p0/p1)+", close_set(comp)
        if form == "gstar":
            return "(p0/p1)*", close_set(comp) + ident
        return "(p0/p1)?", comp + ident  # gopt

    @given(st.data())
    @settings(max_examples=40, deadline=None)
    def test_path_engine_equals_naive(self, spark, data):
        from kgc.graph import sparql_query

        draw = data.draw
        rows = draw(
            st.lists(
                st.tuples(
                    st.sampled_from(self._SUBS),
                    st.sampled_from(self._PREDS),
                    st.sampled_from(self._OBJS),
                ),
                min_size=0, max_size=8,
            )
        )
        form = draw(st.sampled_from([
            "plus", "star", "opt", "inv", "alt", "neg", "seq", "seqinv",
            "gplus", "gstar", "gopt",
        ]))
        path_txt, pairs = self._naive_path(rows, form)
        s_t = draw(st.sampled_from(["?s", "s0", "s1"]))
        o_t = draw(st.sampled_from(["?o", "o0", "s0"]))
        if not s_t.startswith("?") and not o_t.startswith("?"):
            o_t = "?o"  # keep >= 1 variable
        df = spark.createDataFrame(
            rows or [("zz", "zz", "zz")],
            "subj string, pred string, obj string",
        )
        if not rows:
            df = df.filter("subj <> 'zz'")
        sol = sparql_query(
            df, f"SELECT * WHERE {{ {s_t} {path_txt} {o_t} }}"
        )
        want = pairs
        if not s_t.startswith("?"):
            want = [(a, b) for a, b in want if a == s_t]
        if not o_t.startswith("?"):
            want = [(a, b) for a, b in want if b == o_t]
        proj = []
        for a, b in want:
            row = {}
            if s_t.startswith("?"):
                row["s"] = a
            if o_t.startswith("?"):
                row["o"] = b
            proj.append(tuple(sorted(row.items())))
        got = sorted(
            tuple(sorted(r.asDict().items())) for r in sol.collect()
        )
        assert got == sorted(proj), (rows, form, s_t, o_t, got, proj)


class TestClosureDifferential:
    """transitive_closure's two routes — driver BFS (default threshold)
    and path doubling (small_graph_threshold=0) — vs a naive evaluator
    that grows walks of exactly k edges, on the full (src, dst, depth)
    multiset: cycles, self-loops, duplicate edges, NULL endpoints, and a
    chain longer than max_depth so the depth cap bites."""

    _NODES = st.sampled_from(["a", "b", "c", "d", "e", None])

    @staticmethod
    def _naive(edges, max_depth):
        adj = {(s, d) for s, d in edges if s is not None and d is not None}
        out, walks = {}, adj
        for k in range(1, max(max_depth, 1) + 1):
            for pair in walks:
                out.setdefault(pair, k)
            walks = {(s, d2) for s, d in walks for d1, d2 in adj if d == d1}
        return sorted((s, d, k) for (s, d), k in out.items())

    @given(
        st.lists(st.tuples(_NODES, _NODES), max_size=12),
        st.integers(0, 5),
        st.booleans(),
    )
    @settings(max_examples=25, deadline=None)
    def test_routes_equal_naive(self, spark, edges, max_depth, chain):
        from kgc.graph import transitive_closure

        if chain:  # one edge longer than the cap, joined to the graph
            edges = edges + [(f"c{i}", f"c{i + 1}") for i in range(max_depth + 2)]
            edges.append(("a", "c0"))
        df = spark.createDataFrame(edges or [("zz", "zz")], "u string, v string")
        if not edges:
            df = df.filter("u <> 'zz'")
        want = self._naive(edges, max_depth)
        for threshold in (None, 0):
            kw = {} if threshold is None else {"small_graph_threshold": threshold}
            got = sorted(
                tuple(r) for r in transitive_closure(
                    df, "u", "v", max_depth=max_depth, **kw
                ).collect()
            )
            assert got == want, (edges, max_depth, threshold, got, want)


class TestAggregateDifferential:
    """Differential testing of sparql_aggregate: random rows, one
    grouped pattern, the full aggregate menu (incl. COUNT DISTINCT,
    sorted GROUP_CONCAT with separator, an expression aggregate, and
    HAVING) vs a naive per-group evaluator."""

    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["s0", "s1", "s2"]),
                st.sampled_from(["p0", "p1"]),
                st.sampled_from(["o0", "o1", "oo22"]),
            ),
            min_size=0, max_size=12,
        ),
        st.booleans(),
    )
    @settings(max_examples=30, deadline=None)
    def test_aggregate_engine_equals_naive(self, spark, rows, having):
        from kgc.graph import sparql_aggregate

        df = spark.createDataFrame(
            rows or [("zz", "zz", "zz")],
            "subj string, pred string, obj string",
        )
        if not rows:
            df = df.filter("subj <> 'zz'")
        text = (
            "SELECT ?g (COUNT(?v) AS ?n) (COUNT(DISTINCT ?v) AS ?nd) "
            "(MIN(?v) AS ?mn) (MAX(?v) AS ?mx) "
            '(GROUP_CONCAT(?v; SEPARATOR=",") AS ?cc) '
            "(SUM(STRLEN(?v)) AS ?sl) "
            "WHERE { ?g p0 ?v } GROUP BY ?g"
        )
        if having:
            text += " HAVING (?n >= 2)"
        got = sorted(
            (r.g, r.n, r.nd, r.mn, r.mx, r.cc, int(r.sl))
            for r in sparql_aggregate(df, text).collect()
        )
        groups: dict = {}
        for s, p, o in rows:
            if p == "p0":
                groups.setdefault(s, []).append(o)
        want = sorted(
            (
                g, len(vs), len(set(vs)), min(vs), max(vs),
                ",".join(sorted(vs)), sum(len(v) for v in vs),
            )
            for g, vs in groups.items()
            if not having or len(vs) >= 2
        )
        assert got == want, (rows, got, want)


class TestSubqueryConstructDifferential:
    """Differential coverage for the two remaining compiled forms:
    aggregate subqueries joined into the outer group, and CONSTRUCT
    template instantiation (NULL-dropping, RDF set semantics)."""

    _ROWS = st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.sampled_from(["p0", "p1"]),
            st.sampled_from(["o0", "o1", "s0"]),
        ),
        min_size=0, max_size=10,
    )

    @staticmethod
    def _df(spark, rows):
        df = spark.createDataFrame(
            rows or [("zz", "zz", "zz")],
            "subj string, pred string, obj string",
        )
        return df.filter("subj <> 'zz'") if not rows else df

    @given(_ROWS)
    @settings(max_examples=30, deadline=None)
    def test_aggregate_subquery_equals_naive(self, spark, rows):
        from kgc.graph import sparql_query

        sol = sparql_query(
            self._df(spark, rows),
            "SELECT ?a ?v ?n WHERE { ?a p1 ?v "
            "{ SELECT ?a (COUNT(?x) AS ?n) WHERE { ?a p0 ?x } "
            "GROUP BY ?a } }",
        ).collect()
        got = sorted((r.a, r.v, r.n) for r in sol)
        counts: dict = {}
        for s, p, o in rows:
            if p == "p0":
                counts[s] = counts.get(s, 0) + 1
        want = sorted(
            (s, o, counts[s]) for s, p, o in rows
            if p == "p1" and s in counts
        )
        assert got == want, (rows, got, want)

    @given(_ROWS, st.booleans())
    @settings(max_examples=30, deadline=None)
    def test_construct_equals_naive(self, spark, rows, with_opt):
        from kgc.graph import sparql_construct

        text = "CONSTRUCT { ?a derived ?v . ?v origin ?a } WHERE { ?a p0 ?v"
        if with_opt:
            # optional var in the template: unmatched rows drop that
            # instantiation (spec), matched ones emit it
            text = (
                "CONSTRUCT { ?a derived ?v . ?a extra ?w } "
                "WHERE { ?a p0 ?v OPTIONAL { ?a p1 ?w }"
            )
        got = sorted(
            (r.subj, r.pred, r.obj)
            for r in sparql_construct(self._df(spark, rows), text + " }")
            .collect()
        )
        base = [(s, o) for s, p, o in rows if p == "p0"]
        trip = set()
        if with_opt:
            p1 = {}
            for s, p, o in rows:
                if p == "p1":
                    p1.setdefault(s, []).append(o)
            for a, v in base:
                trip.add((a, "derived", v))
                for w in p1.get(a, []):
                    trip.add((a, "extra", w))
        else:
            for a, v in base:
                trip.add((a, "derived", v))
                trip.add((v, "origin", a))
        assert got == sorted(trip), (rows, got, trip)


class TestResolvedLinkDifferential:
    """pipeline.run's linked stage — the dictionary resolved once
    (kgc.canon.resolve_dictionary) and looked up per mention
    (link_resolved) — vs the operator pair it replaces,
    link_mentions(fuzzy=False) + canonicalize_entities, over random
    dictionaries scanned against text made of their own surfaces.
    Compared as multisets of the linked columns."""

    # case and punctuation variants of shared keys, non-ASCII surfaces,
    # multi-token keys overlapping single-token ones
    _SURFACES = [
        "Müller", "müller", "MÜLLER", "café", "Café!", "paris", "Paris",
        "paris nord", "Paris-Nord", "nord", "a.b", "a b", "b", "x_y", "y",
    ]
    _TYPES = {"E1": "Person", "E2": "Place", "E3": "Thing", "E4": "Event"}
    _COLS = ["doc_id", "seg_id", "tok_begin", "alias", "entity_id",
             "entity_type", "score", "canonical_id"]

    @classmethod
    def _both(cls, spark, rows, texts):
        from kgc import canon, link, mentions

        adf = spark.createDataFrame(
            rows, "alias string, entity_id string, entity_type string, weight double"
        )
        segs = spark.createDataFrame(
            [("d", i, t) for i, t in enumerate(texts)],
            "doc_id string, seg_id int, seg_text string",
        )
        ment = mentions.detect_mentions(segs, [r[0] for r in rows]).persist()
        linked = link.link_mentions(ment, adf, fuzzy=False)
        try:
            old = canon.canonicalize_entities(linked, adf)
            new = canon.link_resolved(ment, canon.resolve_dictionary(adf).table)
            bag = lambda df: sorted(tuple(r) for r in df.select(*cls._COLS).collect())
            return bag(old), bag(new)
        finally:
            for df in [ment, *linked._kgc_pinned]:
                df.unpersist()

    @given(st.data())
    @settings(max_examples=15, deadline=None)
    def test_resolved_lookup_equals_link_then_canonicalize(self, spark, data):
        from kgc.mentions import norm_tokens_py

        draw = data.draw
        drawn = draw(st.lists(
            st.tuples(
                st.sampled_from(self._SURFACES),
                st.sampled_from(sorted(self._TYPES)),
                st.sampled_from([0.5, 0.7, 1.0]),
            ),
            min_size=1, max_size=10,
        ))
        # duplicate (key, entity) rows repeat one weight: link_exact
        # keeps an arbitrary one of them, which no lookup can match
        weight: dict = {}
        rows = [
            (a, e, self._TYPES[e],
             weight.setdefault((" ".join(norm_tokens_py(a)), e), w))
            for a, e, w in drawn
        ]
        texts = draw(st.lists(
            st.lists(st.sampled_from(self._SURFACES + ["zz", "."]), max_size=8)
            .map(" ".join),
            min_size=1, max_size=3,
        ))
        old, new = self._both(spark, rows, texts)
        assert new == old, (rows, texts)

    def test_testdata_dictionary(self, spark):
        # 'scan': E03 beats E11 on weight; 'query': E12/E13 merge
        from kgc.synth import TESTDATA_ALIASES

        text = "a table scan then a scan of the query, hash join, join window"
        texts = [text, "query spark data sort stream customer scan"]
        old, new = self._both(spark, TESTDATA_ALIASES, texts)
        assert new == old and len(new) == 13
        assert {r[3]: (r[4], r[7]) for r in new}["query"] == ("E12", "E12")


def _media_seeds() -> dict[str, bytes]:
    """One small valid payload per format decode_payload_py recognizes."""
    import io
    import struct
    import wave
    import zlib

    def chunk(t, data):
        return (struct.pack(">I", len(data)) + t + data
                + struct.pack(">I", zlib.crc32(t + data) & 0xFFFFFFFF))

    # 3×4 RGB, one row per filter type: None, Sub, Average, Paeth
    rows = [bytes([f]) + bytes((7 * f + i) % 256 for i in range(9)) for f in (0, 1, 3, 4)]
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 4, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"".join(rows))) + chunk(b"IEND", b""))
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"".join(struct.pack("<hh", 97 * i, -31 * i) for i in range(24)))
    gif = (b"GIF89a" + struct.pack("<HH", 2, 2) + b"\x80\x00\x00"
           + b"\x00\x00\x00\xff\xff\xff"
           + b"\x21\xf9\x04\x00" + struct.pack("<H", 50) + b"\x00\x00"
           + b"\x2c" + struct.pack("<HHHH", 0, 0, 2, 2) + b"\x00\x02\x03\x0c\x10\x05\x00"
           + b"\x3b")
    jpeg = (b"\xff\xd8\xff\xe0" + struct.pack(">H", 4) + b"JF"
            + b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 3, 4, 1)
            + b"\x01\x11\x00\xff\xd9")
    mp3 = b"ID3\x04\x00\x00\x00\x00\x00\x00\xff\xfb\x90\x00" + bytes(60)
    mvhd = (struct.pack(">I", 28) + b"mvhd" + bytes(12)
            + struct.pack(">II", 1000, 2500))
    tkhd = (struct.pack(">I", 92) + b"tkhd" + bytes(76)
            + struct.pack(">II", 640 << 16, 360 << 16))
    trak = struct.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
    mp4 = (struct.pack(">I", 16) + b"ftypisom" + bytes(4)
           + struct.pack(">I", 8 + len(mvhd) + len(trak)) + b"moov" + mvhd + trak)
    return {"png": png, "wav": buf.getvalue(), "gif": gif, "jpeg": jpeg,
            "mp3": mp3, "mp4": mp4}


_MEDIA_SEEDS = _media_seeds()


@st.composite
def _damaged(draw, seeds):
    """A seed payload after 1-4 truncations, byte overwrites and
    splices, or random bytes behind one of the seeds' magic prefixes."""
    seed = seeds[draw(st.sampled_from(sorted(seeds)))]
    if draw(st.booleans()):
        return seed[:12] + draw(st.binary(max_size=80))
    b = bytearray(seed)
    for _ in range(draw(st.integers(1, 4))):
        i = draw(st.integers(0, len(b)))
        op = draw(st.sampled_from(["truncate", "overwrite", "splice"]))
        if op == "truncate":
            del b[i:]
        elif op == "overwrite" and i < len(b):
            b[i] = draw(st.integers(0, 255))
        else:
            b[i : i + draw(st.integers(0, 8))] = draw(st.binary(max_size=8))
    return bytes(b)


class TestMediaPoison:
    """The strict media decode maps every damaged payload to a
    MediaDecodeError (a quarantine row in decode_media), never to any
    other exception that would fail the mapInPandas task."""

    @given(st.one_of(_damaged(_MEDIA_SEEDS), st.binary(max_size=200)))
    @settings(max_examples=600, deadline=None, derandomize=True)
    def test_damaged_payload_decodes_or_quarantines(self, payload):
        from kgc.media import MediaDecodeError, decode_payload_py

        try:
            out = decode_payload_py(payload)
        except MediaDecodeError:
            return
        assert isinstance(out, dict)


# ------------------------------------------------------- parser poison ---
_MARKUP_SEEDS = [
    "# Title\n\nalpha *beta* `gamma`\n\n- item\n- [link](http://x)\n\nSetext\n---\n",
    "<html><body><h1>T</h1><p>one <b>two</b> &amp;</p><ul><li>x</li></ul>"
    "<script>var a = '<p>';</script><!-- c --></body></html>",
    "plain line\n\n  second line\r\nthird\tcol\x00\n",
]


@st.composite
def _damaged_text(draw):
    """A markup seed after 1-4 truncations, character overwrites and
    splices."""
    s = list(draw(st.sampled_from(_MARKUP_SEEDS)))
    for _ in range(draw(st.integers(1, 4))):
        i = draw(st.integers(0, len(s)))
        op = draw(st.sampled_from(["truncate", "overwrite", "splice"]))
        if op == "truncate":
            del s[i:]
        elif op == "overwrite" and i < len(s):
            s[i] = draw(st.characters())
        else:
            s[i : i + draw(st.integers(0, 8))] = draw(st.text(max_size=8))
    return "".join(s)


def _pdf_seeds():
    from test_parsers import _classic_pdf, _encrypted_pdf, _image_pdf

    return {"classic": _classic_pdf(), "rc4": _encrypted_pdf(r=3),
            "image": _image_pdf()}


class TestParserPoison:
    """The document parsers turn damaged input into spans or, for a PDF,
    a PdfUnsupportedError (a ``pdf_unsupported`` quarantine row), never
    into any other exception that would fail the parse task."""

    @given(st.one_of(_damaged_text(), st.text(max_size=200)))
    @settings(max_examples=400, deadline=None, derandomize=True)
    def test_damaged_text_parses_to_spans(self, text):
        from kgc.parsers import parse_html_py, parse_markdown_py, parse_text_py

        for spans in (parse_text_py(text), parse_markdown_py(text),
                      parse_html_py(text)[0]):
            assert isinstance(spans, list)
            assert all(isinstance(s["text"], str) for s in spans)

    @given(st.one_of(_damaged(_pdf_seeds()), st.binary(max_size=200)))
    @settings(max_examples=400, deadline=None, derandomize=True)
    def test_damaged_pdf_parses_or_is_unsupported(self, payload):
        import signal

        from kgc.parsers import parse_pdf_py
        from kgc.pdf import PdfUnsupportedError

        class Hang(BaseException):
            """Not an Exception: the content-stream loop swallows those."""

        def timeout(signum, frame):
            raise Hang("parse_pdf_py did not return within 3 s")

        old = signal.signal(signal.SIGALRM, timeout)
        signal.alarm(3)
        try:
            spans = parse_pdf_py(payload)
        except PdfUnsupportedError:
            return
        finally:
            signal.alarm(0)
            signal.signal(signal.SIGALRM, old)
        assert all(s["kind"] == "page" for s in spans)
