"""Query AST, normalization, and a classic-syntax subset parser.

Mirrors the reference semantics (not code):

- AST ≈ the immutable ``Query`` tree (``core/search/Query.java``); clauses use
  Lucene's four occurs (``core/search/BooleanClause.java``): MUST, SHOULD,
  MUST_NOT, FILTER.
- ``normalize`` ≈ the fixpoint rewrite (``core/search/IndexSearcher.java:761-770``
  + ``core/search/BooleanQuery.java:249-310``): single-clause collapse,
  MUST_NOT/FILTER set-dedup, MatchNoDocs propagation, empty → MatchNoDocs.
- Parser ≈ the classic QueryParser subset used by the reference benchmark
  query mix (``ReutersQueryMaker.java:41-52``): bare terms (SHOULD), ``+term``
  (MUST), ``-term`` (MUST_NOT), ``term^2.5`` boosts, ``field:term``. Query
  text is analyzed with the same analyzer as the index
  (``QueryParserBase.java:455-506``). Phrases are v2 (no positions yet).

Scoring contract per clause combination (see exhaustive/wand executors):
hit = all MUST match ∧ no MUST_NOT matches ∧ (MUST present ∨ ≥1 SHOULD);
score = Σ float32 clause scores accumulated in double, cast to float32
(``DisjunctionSumScorer`` semantics).
"""

from __future__ import annotations

from dataclasses import dataclass, field

MUST = "MUST"
SHOULD = "SHOULD"
MUST_NOT = "MUST_NOT"
FILTER = "FILTER"


@dataclass(frozen=True)
class TermQuery:
    term: str
    field: str = "text"
    boost: float = 1.0
    #: score with ARTIFICIAL df = ttf = 1 instead of the term's real stats
    #: (``classification/utils/NearestFuzzyQuery.java:199-212`` newTermQuery
    #: builds a TermStates whose overall df and ttf equal 1); matching /
    #: existence checks still use the real postings
    df1: bool = False

    def boosted(self, b: float) -> "TermQuery":
        return TermQuery(self.term, self.field, self.boost * b, self.df1)


@dataclass(frozen=True)
class PhraseQuery:
    """Phrase query; ``slop=0`` → exact (terms at consecutive positions),
    ``slop>0`` → sloppy.

    Mirrors ``core/search/PhraseQuery.java`` semantics: exact freq = number
    of phrase occurrences (``ExactPhraseMatcher.java``); sloppy freq =
    Σ 1/(1+matchLength) over the greedy minimal-window matches
    (``SloppyPhraseMatcher.java:170``, ``PhraseScorer.java:74-80``). Scored
    with the summed per-term idf (``BM25Similarity.java:185-194``).
    """

    terms: tuple  # tuple[str, ...], in phrase order
    field: str = "text"
    boost: float = 1.0
    slop: int = 0


@dataclass(frozen=True)
class MultiPhraseQuery:
    """Phrase with per-position alternatives (``core/search/MultiPhraseQuery.java``):
    position i matches when ANY term of ``slots[i]`` occurs there (union
    postings, :303). idf = sum over ALL terms of all slots (:234)."""

    slots: tuple  # tuple[tuple[str, ...], ...]
    field: str = "text"
    boost: float = 1.0
    slop: int = 0


@dataclass(frozen=True)
class MultiTermQuery:
    """Term-expansion queries (``core/search/MultiTermQuery.java`` family).

    ``kind``: prefix | wildcard | regexp | fuzzy | range | set. Expanded
    against the term dictionary and executed with CONSTANT_SCORE rewrite
    (score := boost for every matching doc), Lucene's default rewrite for
    these queries.
    """

    kind: str
    value: str = ""            # prefix / wildcard pattern / regexp / fuzzy term
    lower: str | None = None   # range bounds
    upper: str | None = None
    include_lower: bool = True  # TermRangeQuery.java includeLower/-Upper;
    include_upper: bool = True  # classic syntax [a TO b] vs {a TO b}
    max_edits: int = 2         # fuzzy (FuzzyQuery.java:54 caps at 2)
    terms: tuple = ()          # for kind == "set" (TermInSetQuery)
    field: str = "text"
    boost: float = 1.0


@dataclass(frozen=True)
class SynonymQuery:
    """Scores as one pseudo-term: df = max over terms, tf summed per doc
    (``core/search/SynonymQuery.java:205-222``)."""

    terms: tuple
    field: str = "text"
    boost: float = 1.0


@dataclass(frozen=True)
class DisjunctionMaxQuery:
    """score = max(sub) + tie_breaker × Σ(others)
    (``core/search/DisjunctionMaxScorer.java:26,49-51``). v1 subs are terms."""

    terms: tuple
    tie_breaker: float = 0.0
    field: str = "text"
    boost: float = 1.0


@dataclass(frozen=True)
class SpanNearQuery:
    """Proximity query over single-term sub-spans
    (``queries/spans/SpanNearQuery.java:41``,
    ``queries/intervals/IntervalQuery.java:59``): matches docs where the
    terms occur within ``slop`` intervening positions, in order or any order.
    An element of ``terms`` may itself be a tuple of term names — a
    SpanOrQuery clause (``queries/spans/SpanOrQuery.java:38``): that
    sub-span matches at the union of the alternatives' positions.
    v1 scoring: constant-score (boost per matching doc; the reference's
    SpanScorer sloppyFreq scoring is a documented cut — match sets are
    identical)."""

    terms: tuple
    slop: int = 0
    in_order: bool = True
    field: str = "text"
    boost: float = 1.0


@dataclass(frozen=True)
class SpanFirstQuery:
    """Spans ending within the first ``end`` positions
    (``queries/spans/SpanFirstQuery.java:35``: matches sub-spans with
    endPosition() ≤ end). The inner span is a span-near over single-term
    sub-spans, like SpanNearQuery; constant-score like the other spans."""

    terms: tuple
    end: int
    slop: int = 0
    in_order: bool = True
    field: str = "text"
    boost: float = 1.0


@dataclass(frozen=True)
class SpanNotQuery:
    """Include spans with no ``exclude``-term occurrence within
    [start − pre, end + post] (``queries/spans/SpanNotQuery.java:38``).
    The include span is a span-near over ``terms``; ``exclude`` is a single
    term."""

    terms: tuple
    exclude: str
    pre: int = 0
    post: int = 0
    slop: int = 0
    in_order: bool = True
    field: str = "text"
    boost: float = 1.0


@dataclass(frozen=True)
class SpanContainingQuery:
    """Big spans that contain a match of the little span
    (``queries/spans/SpanContainingQuery.java:36``). The big span is a
    span-near over ``terms``; ``little`` is a single term (position p is
    contained when start ≤ p ≤ end). Constant-score like the other spans —
    under that v1 cut the doc match set equals SpanWithinQuery's (the two
    differ only in which spans feed sloppyFreq scoring)."""

    terms: tuple
    little: str
    slop: int = 0
    in_order: bool = True
    field: str = "text"
    boost: float = 1.0


@dataclass(frozen=True)
class SpanWithinQuery:
    """Little spans that occur within a big span
    (``queries/spans/SpanWithinQuery.java:35``) — the role-swapped view of
    SpanContainingQuery; identical doc match set under constant scoring
    (documented v1 cut), kept as a distinct type for API parity."""

    terms: tuple
    little: str
    slop: int = 0
    in_order: bool = True
    field: str = "text"
    boost: float = 1.0


@dataclass(frozen=True)
class KnnQuery:
    """K-nearest-neighbor vector query
    (``core/search/KnnFloatVectorQuery.java:44``): finds the k docs whose
    vectors are nearest the query vector (optionally among a pre-filter match
    set), then matches exactly those docs with their similarity scores
    (the ``AbstractKnnVectorQuery.rewrite`` → DocAndScoreQuery contract) —
    standalone or as a clause inside a BooleanQuery. Executed against the
    searcher's attached (doc_id, embedding) doc-values DataFrame
    (``search/knn.py``)."""

    vector: tuple          # query vector components (floats)
    k: int = 10
    filter: object = None  # optional pre-filter query AST
    strategy: str = "exact"  # "exact" (recall=1) | "lsh" (banded candidates)
    boost: float = 1.0


@dataclass(frozen=True)
class IntervalQuery:
    """Minimal-interval proximity query with saturation scoring
    (``queries/intervals/IntervalQuery.java:72-84``): per matching doc the
    sloppy frequency of the source's minimal intervals feeds
    ``weight * (1 - pivot / (pivot + freq))``
    (``IntervalScoreFunction.java:56-72``). ``source`` is a
    ``search.intervals`` source: a term, a tuple of alternative terms
    (``Intervals.or``), or ``intervals.Ordered`` / ``intervals.Unordered``
    with optional ``max_gaps`` (``Intervals.maxgaps``;
    ``max_gaps=0`` ordered ≡ ``Intervals.phrase``)."""

    source: object
    pivot: float = 1.0
    field: str = "text"
    boost: float = 1.0


@dataclass(frozen=True)
class TermAutomatonQuery:
    """Token-automaton query (``sandbox/.../TermAutomatonQuery.java:90-260``):
    ``transitions`` is a tuple of (from_state, to_state, slot) arcs where a
    slot is a term, a tuple of alternative terms, or None for an ANY arc
    (advances one position unconditionally — ``TermAutomatonScorer.java:
    276-300``); a match is any token run driving state 0 to an accept
    state. v1 contract: acyclic automata, no leading/trailing ANY (the
    reference forbids those two as well, :157/:167), constant-score match
    set (count / k smallest docIDs — the freq-based similarity scoring is
    a documented cut, same contract as the span family)."""

    transitions: tuple
    n_states: int
    accept: tuple
    field: str = "text"
    boost: float = 1.0


SPAN_QUERY_TYPES = (SpanNearQuery, SpanFirstQuery, SpanNotQuery,
                    SpanContainingQuery, SpanWithinQuery)


@dataclass(frozen=True)
class ConstantScoreQuery:
    """Generic constant-score wrapper (``core/search/ConstantScoreQuery.java``):
    every doc matched by ``query`` scores exactly ``boost``; top-k ties break
    by docID, so top-k = the k smallest matching docIDs."""

    query: object
    boost: float = 1.0


@dataclass(frozen=True)
class MatchAllDocsQuery:
    boost: float = 1.0


@dataclass(frozen=True)
class MatchNoDocsQuery:
    pass


@dataclass(frozen=True)
class BooleanQuery:
    # tuple of (occur, query); query is TermQuery after normalization (v1)
    clauses: tuple = field(default_factory=tuple)
    min_should_match: int = 0

    @property
    def by_occur(self):
        out = {MUST: [], SHOULD: [], MUST_NOT: [], FILTER: []}
        for occur, q in self.clauses:
            out[occur].append(q)
        return out


Query = object  # union marker for readability


def normalize(q):
    """Fixpoint-free single-pass normalization (our ASTs are one level deep)."""
    if isinstance(q, PhraseQuery):
        if not q.terms:
            return MatchNoDocsQuery()
        if len(q.terms) == 1:  # 1-term phrase collapses to TermQuery
            return TermQuery(q.terms[0], q.field, q.boost)
        return q
    if isinstance(q, MultiPhraseQuery):
        if not q.slots or any(not s for s in q.slots):
            return MatchNoDocsQuery()
        if all(len(s) == 1 for s in q.slots):  # no alternatives → PhraseQuery
            return normalize(PhraseQuery(tuple(s[0] for s in q.slots),
                                         q.field, q.boost, q.slop))
        if len(q.slots) == 1:  # one-term-array case → SHOULD bool (:189-195)
            return normalize(BooleanQuery(tuple(
                (SHOULD, TermQuery(t, q.field, q.boost)) for t in q.slots[0]
            )))
        return q
    if isinstance(q, SynonymQuery):
        if not q.terms:
            return MatchNoDocsQuery()
        return q
    if isinstance(q, DisjunctionMaxQuery):
        if not q.terms:
            return MatchNoDocsQuery()
        return q
    if isinstance(q, ConstantScoreQuery):
        inner = normalize(q.query)
        if isinstance(inner, MatchNoDocsQuery):
            return inner
        return ConstantScoreQuery(inner, q.boost)
    if isinstance(q, SPAN_QUERY_TYPES):
        if not q.terms:
            return MatchNoDocsQuery()
        return q
    if isinstance(q, TermAutomatonQuery):
        if not q.transitions:
            return MatchNoDocsQuery()
        return q
    if isinstance(q, (TermQuery, MatchAllDocsQuery, MatchNoDocsQuery,
                      MultiTermQuery, KnnQuery, IntervalQuery)):
        return q
    if isinstance(q, BooleanQuery):
        # recursive normalization (BooleanQuery.java:249-310 rewrite loop):
        # sub-queries normalize first; MatchNoDocs propagates (required →
        # whole query matches nothing; optional/prohibited → clause drops);
        # a SHOULD clause that is itself a pure-SHOULD boolean with
        # msm<=1 inlines (the nested-disjunction flatten,
        # BooleanQuery.java:519-545) when the OUTER msm<=1 (inlining under
        # msm>=2 would change the clause count the constraint applies to)
        norm: list = []
        for occur, sub in q.clauses:
            ns = normalize(sub)
            if isinstance(ns, MatchNoDocsQuery):
                if occur in (MUST, FILTER):
                    return MatchNoDocsQuery()
                continue
            if (occur == SHOULD and isinstance(ns, BooleanQuery)
                    and q.min_should_match <= 1
                    and ns.min_should_match <= 1
                    and all(o == SHOULD for o, _ in ns.clauses)):
                norm.extend(ns.clauses)
                continue
            norm.append((occur, ns))
        if len(norm) != len(q.clauses) or any(
            ns is not sub for (_, ns), (_, sub) in zip(norm, q.clauses)
        ):
            q = BooleanQuery(tuple(norm), q.min_should_match)
        occ = q.by_occur
        # FILTER / MUST_NOT have set semantics (BooleanQuery.java:142-155)
        def dedup(qs):
            seen, out = set(), []
            for x in qs:
                key = (x.field, x.term) if isinstance(x, TermQuery) else x
                if key not in seen:
                    seen.add(key)
                    out.append(x)
            return out

        must, should = occ[MUST], occ[SHOULD]
        must_not, filt = dedup(occ[MUST_NOT]), dedup(occ[FILTER])
        if not must and not should and not filt:
            return MatchNoDocsQuery()  # only-prohibited matches nothing
        if len(must) == 1 and not should and not must_not and not filt:
            return must[0]  # single-clause collapse
        if len(should) == 1 and not must and not must_not and not filt \
                and q.min_should_match <= 1:
            return should[0]
        clauses = (
            [(MUST, x) for x in must]
            + [(SHOULD, x) for x in should]
            + [(MUST_NOT, x) for x in must_not]
            + [(FILTER, x) for x in filt]
        )
        return BooleanQuery(tuple(clauses), q.min_should_match)
    raise TypeError(f"unknown query node: {q!r}")


import re as _re

# one clause token: optional +/-, then a quoted phrase (with optional ~slop)
# or bare word, then an optional ^boost — the classic QueryParser subset
_CLAUSE_RE = _re.compile(
    r'([+-]?)("(?:[^"]*)"(?:~(\d+))?|(?:\w+:)?[\[{][^\]}]*[\]}]|[^\s"^]+)'
    r"(?:\^([\d.]+))?"
)
_RANGE_TO_RE = _re.compile(r"\s+TO\s+", _re.I)


def _leaf_clauses(occur, raw, slop_s, boost_s, analyzer, default_field,
                  fields):
    """One non-paren clause token → list of (occur, query). The single
    shared leaf grammar of both parse paths (phrase / field:term / range /
    wildcard / fuzzy / analyzed terms)."""
    clauses = []
    boost = float(boost_s) if boost_s else 1.0
    slop = int(slop_s) if slop_s else 0
    is_phrase = raw.startswith('"')
    if is_phrase:
        raw = raw[1: raw.rindex('"')]  # strip quotes (and trailing ~N)
    fieldname = default_field
    if not is_phrase and ":" in raw:
        maybe_field, _, rest = raw.partition(":")
        # only treat as field prefix for known fields; else it's MidLetter text
        if maybe_field in fields:
            fieldname, raw = maybe_field, rest
            if maybe_field != default_field and raw[:1] not in "[{":
                # keyword field: exact, unanalyzed term
                clauses.append((occur, TermQuery(raw, fieldname, boost)))
                return clauses
    if (not is_phrase and raw[:1] in "[{" and raw[-1:] in "]}"):
        # classic range syntax [lo TO hi] / {lo TO hi} (mixed brackets
        # allowed, * = open bound) → TermRangeQuery
        # (``QueryParserBase.java`` getRangeQuery; bounds lowercased like
        # the other expanded-term syntaxes)
        parts = _RANGE_TO_RE.split(raw[1:-1].strip())
        if len(parts) == 2:
            # keyword fields (field != default) pass terms through
            # unanalyzed (StringField semantics) — range bounds must match:
            # lang:[EN TO FR] compares against the stored uppercase values,
            # only default-field bounds lowercase like other expanded terms
            def _bound(s):
                s = s.strip()
                if s in ("*", ""):
                    return None
                return s if fieldname != default_field else s.lower()

            lo, hi = _bound(parts[0]), _bound(parts[1])
            clauses.append((occur, MultiTermQuery(
                "range", lower=lo, upper=hi,
                include_lower=raw[0] == "[",
                include_upper=raw[-1] == "]",
                field=fieldname, boost=boost)))
            return clauses
    if not is_phrase:
        # wildcard / prefix / fuzzy syntax (QueryParserBase.java:690,793)
        fz = _re.fullmatch(r"(.+?)~([012])?", raw)
        if "*" in raw or "?" in raw:
            low = raw.lower()
            if low.endswith("*") and "*" not in low[:-1] and "?" not in low:
                clauses.append((occur, MultiTermQuery(
                    "prefix", low[:-1], field=fieldname, boost=boost)))
            else:
                clauses.append((occur, MultiTermQuery(
                    "wildcard", low, field=fieldname, boost=boost)))
            return clauses
        if fz:
            edits = int(fz.group(2)) if fz.group(2) else 2
            clauses.append((occur, MultiTermQuery(
                "fuzzy", fz.group(1).lower(), max_edits=edits,
                field=fieldname, boost=boost)))
            return clauses
    # analyze the term text like the index side (QueryParserBase.java:455)
    toks = analyzer.tokenize_text(raw)
    if not toks:
        return clauses  # analyzed to nothing (e.g. stopword / too long)
    if is_phrase:
        clauses.append(
            (occur,
             normalize(PhraseQuery(tuple(toks), fieldname, boost, slop)))
        )
    else:
        for t in toks:  # multi-token expansion: each token its own clause
            clauses.append((occur, TermQuery(t, fieldname, boost)))
    return clauses


# standalone uppercase operators / grouping chars trigger the operator path;
# lowercase and/or/not stay ordinary search terms (QueryParser.jj: operator
# tokens are case-sensitive)
_OPERATOR_DETECT_RE = _re.compile(
    r"[()]|(?<![\w\"])(?:AND|OR|NOT)(?![\w\"])|&&|\|\||(?<!\S)!(?=\S)")

_OP_TOK_RE = _re.compile(
    r'"[^"]*"(?:~\d+)?(?:\^[\d.]+)?'                 # quoted phrase
    r"|(?:\w+:)?[\[{][^\]}]*[\]}](?:\^[\d.]+)?"   # range (opt. field)
    r"|[()]"
    r'|[^\s()"]+'                                    # word / operator / mod
)


def _combined_boost(q, b: float):
    """Multiply a leaf query's boost by a group boost — exact, because boost
    multiplies each leaf weight in the reference too (BoostQuery rewrite)."""
    if b == 1.0:
        return q
    from dataclasses import replace

    return replace(q, boost=q.boost * b)


def _occur_of(mod, conj, clauses, last_span, state, depth=0):
    """``QueryParserBase.addClause`` occur resolution for default-OR: AND
    promotes the PRECEDING default entity to required and makes the current
    clause MUST; +/-/NOT set the current clause explicitly. A preceding
    inlined GROUP promotes as a unit — its SHOULD members become the
    min_should_match=1 required group, exactly ``+(a b)``: at top level via
    the flat global-msm form (WAND-prunable one-level kernel), inside parens
    or when a second group appears as a nested required BooleanQuery clause
    (``Boolean2ScorerSupplier`` composition)."""
    if conj == "AND" and last_span is not None:
        lo, hi = last_span
        span = clauses[lo:hi]
        if len(span) == 1 and span[0][0] == SHOULD:
            span[0][0] = MUST
        elif len(span) > 1 and all(o == SHOULD for o, _ in span):
            if depth or state.get("msm_group"):
                clauses[lo:hi] = [[MUST, BooleanQuery(
                    tuple((o, q) for o, q in span), min_should_match=1)]]
            else:
                state["msm_group"] = True
                state["msm_added"] = len(span)
                state["msm_span"] = (lo, hi)
    if mod == "-":
        return MUST_NOT
    if mod == "+":
        return MUST
    if conj == "AND":
        return MUST
    return SHOULD


def _attach_group(clauses, occur, sub, boost, state, depth=0, msm=0):
    """Attach a parenthesized group. Where flattening is EXACT (one-level
    boolean semantics) the group inlines — those shapes keep the flat,
    WAND-prunable plan; every other shape attaches as a NESTED BooleanQuery
    clause, composed recursively by the mixed kernel
    (``Boolean2ScorerSupplier`` semantics, BooleanQuery.java:519-545 keeps
    non-flattenable sub-booleans as scorer children too). Exact inline cases
    (all require no explicit group msm):

    - SHOULD group of pure SHOULD clauses → inline (sum of sums);
    - MUST group with ONE clause → that clause as MUST;
    - MUST group of pure SHOULD clauses at TOP level → inline as SHOULD +
      global min_should_match=1 (first such group only — msm is global);
    - MUST_NOT group of pure SHOULD clauses → de-Morgan to one MUST_NOT per
      sub-clause.
    """
    occs = {o for o, _ in sub}

    def nested():
        lo = len(clauses)
        clauses.append([occur, BooleanQuery(
            tuple((o, _combined_boost(q, boost)) for o, q in sub),
            min_should_match=msm,
        )])
        return lo

    if msm > 1:  # explicit (a b c)~n group: always a nested unit
        nested()
        return
    if occur == MUST and len(sub) == 1 and not msm:
        clauses.append([MUST, _combined_boost(sub[0][1], boost)])
        return
    if occs and occs != {SHOULD}:
        nested()
        return
    if occur == SHOULD:
        for o, q in sub:
            clauses.append([o, _combined_boost(q, boost)])
    elif occur == MUST:
        if depth or state.get("msm_group"):
            clauses.append([MUST, BooleanQuery(
                tuple((o, _combined_boost(q, boost)) for o, q in sub),
                min_should_match=1,
            )])
            return
        state["msm_group"] = True
        state["msm_added"] = len(sub)
        lo = len(clauses)
        for o, q in sub:
            clauses.append([SHOULD, _combined_boost(q, boost)])
        state["msm_span"] = (lo, len(clauses))
    else:  # MUST_NOT: ¬(a ∨ b) = ¬a ∧ ¬b, prohibited clauses score nothing
        for o, q in sub:
            clauses.append([MUST_NOT, _combined_boost(q, boost)])


def _parse_boolean(tokens, i, analyzer, default_field, fields, depth, state):
    clauses: list = []
    conj = mod = None
    last_span = None  # (lo, hi) slice of the last attached entity
    n = len(tokens)
    while i < n:
        t = tokens[i]
        if t == ")":
            i += 1
            if depth:
                break
            continue  # stray ) at top level: ignore
        if t in ("AND", "&&"):
            conj = "AND"
            i += 1
            continue
        if t in ("OR", "||"):
            conj = "OR"
            i += 1
            continue
        if t in ("NOT", "!"):
            mod = "-"
            i += 1
            continue
        if t in ("+", "-"):
            mod = t
            i += 1
            continue
        if t == "(":
            sub, i = _parse_boolean(tokens, i + 1, analyzer, default_field,
                                    fields, depth + 1, state)
            boost, msm = 1.0, 0
            if i < n and _re.fullmatch(r"~\d+", tokens[i]):
                # (a b c)~n — the group's min_should_match (the classic
                # QueryParser's BooleanQuery msm suffix)
                msm = int(tokens[i][1:])
                i += 1
            if i < n and _re.fullmatch(r"\^[\d.]+", tokens[i]):
                boost = float(tokens[i][1:])
                i += 1
            occur = _occur_of(mod, conj, clauses, last_span, state, depth)
            lo = len(clauses)
            if sub:
                _attach_group(clauses, occur, sub, boost, state, depth, msm)
            last_span = (lo, len(clauses))
            conj = mod = None
            continue
        leaf = t
        if leaf and leaf[0] in "+-!" and len(leaf) > 1:
            mod = "-" if leaf[0] == "!" else leaf[0]
            leaf = leaf[1:]
        occur = _occur_of(mod, conj, clauses, last_span, state, depth)
        m = _CLAUSE_RE.fullmatch(leaf)
        lo = len(clauses)
        if m:
            _, raw, slop_s, boost_s = m.groups()
            for oc, q in _leaf_clauses(occur, raw, slop_s, boost_s,
                                       analyzer, default_field, fields):
                clauses.append([oc, q])
        if len(clauses) > lo:
            last_span = (lo, len(clauses))
        conj = mod = None
        i += 1
    return clauses, i


def _parse_operators(query_str: str, analyzer, default_field, fields):
    """Classic boolean-operator syntax (``QueryParserBase.java:660``
    addClause semantics, default operator OR): ``AND/&&`` requires both
    neighbors, ``OR/||`` keeps defaults, ``NOT/!`` prohibits, parentheses
    group one exactly-flattenable level (see :func:`_attach_group`)."""
    tokens = _OP_TOK_RE.findall(query_str)
    state: dict = {}
    clauses, _ = _parse_boolean(tokens, 0, analyzer, default_field, fields,
                                0, state)
    if not clauses:
        return MatchNoDocsQuery()
    msm = 1 if state.get("msm_group") else 0
    if msm:
        # exactness: min_should_match is GLOBAL over SHOULD clauses, so the
        # flat form is only kept when the required group's members are the
        # ONLY SHOULD clauses at this level; otherwise the group demotes to
        # a nested required BooleanQuery clause (exact — composed by the
        # recursive mixed kernel) and the global msm clears
        n_should = sum(1 for o, _ in clauses if o == SHOULD)
        if n_should != state.get("msm_added", 0):
            lo, hi = state["msm_span"]
            group = clauses[lo:hi]
            clauses[lo:hi] = [[MUST, BooleanQuery(
                tuple((o, q) for o, q in group), min_should_match=1)]]
            msm = 0
    cl = tuple((o, q) for o, q in clauses)
    if len(cl) == 1 and cl[0][0] == SHOULD \
            and not isinstance(cl[0][1], TermQuery):
        return cl[0][1]
    return normalize(BooleanQuery(cl, min_should_match=msm))


def count_leaf_clauses(q) -> int:
    """Number of leaf clauses in a (normalized) query tree — the quantity
    Lucene's ``IndexSearcher.TooManyNestedClauses`` visitor tallies against
    ``maxClauseCount`` (``core/search/IndexSearcher.java:81,120-140``): each
    leaf query visited counts once, booleans recurse, and a multi-term query
    under the constant-score rewrite counts as ONE clause (it never
    materializes per-term scorers). SynonymQuery / DisjunctionMaxQuery /
    MultiPhraseQuery count their alternatives, mirroring the visitor walking
    their sub-queries."""
    if isinstance(q, BooleanQuery):
        return sum(count_leaf_clauses(sub) for _, sub in q.clauses)
    if isinstance(q, ConstantScoreQuery):
        return count_leaf_clauses(q.query)
    if isinstance(q, (SynonymQuery, DisjunctionMaxQuery)):
        inner = getattr(q, "terms", None) or getattr(q, "queries", ())
        return max(1, len(inner))
    if isinstance(q, MultiPhraseQuery):
        return sum(len(s) for s in q.slots)
    if isinstance(q, (SpanNearQuery, SpanFirstQuery)):
        # tuple OR list slots — _span_match accepts both spellings
        return sum(len(t) if isinstance(t, (tuple, list)) else 1
                   for t in q.terms)
    if isinstance(q, (SpanNotQuery, SpanContainingQuery, SpanWithinQuery)):
        # +1 for the exclude / little term
        return sum(len(t) if isinstance(t, (tuple, list)) else 1
                   for t in q.terms) + 1
    return 1


def parse(query_str: str, analyzer, default_field: str = "text",
          fields: tuple = ("text",)):
    """Classic-syntax subset → normalized AST. See module docstring.

    Supports ``"exact phrase"`` clauses (``QueryParserBase.getFieldQuery`` →
    PhraseQuery when the analyzed text has >1 token), ``field:term`` for
    any field in ``fields`` (non-default fields are keyword fields whose
    values are NOT analyzed — StringField semantics), ranges, wildcards,
    fuzzy — and the classic boolean operators ``AND OR NOT && || !`` with
    arbitrarily nested parenthesis grouping (flattenable groups are
    flattened per ``BooleanQuery.java:519-545``; the rest become nested
    :class:`BooleanQuery` clauses evaluated recursively)
    (:func:`_parse_operators`; operator words are case-sensitive, so
    lowercase ``and``/``or``/``not`` remain search terms).
    """
    if _OPERATOR_DETECT_RE.search(query_str):
        return _parse_operators(query_str, analyzer, default_field, fields)
    clauses = []
    for m in _CLAUSE_RE.finditer(query_str):
        sign, raw, slop_s, boost_s = m.groups()
        occur = MUST if sign == "+" else MUST_NOT if sign == "-" else SHOULD
        clauses.extend(_leaf_clauses(occur, raw, slop_s, boost_s, analyzer,
                                     default_field, fields))
    if not clauses:
        return MatchNoDocsQuery()
    if len(clauses) == 1 and clauses[0][0] == SHOULD \
            and not isinstance(clauses[0][1], TermQuery):
        return clauses[0][1]
    return normalize(BooleanQuery(tuple(clauses)))
