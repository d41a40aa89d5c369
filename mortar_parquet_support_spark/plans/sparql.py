"""SPARQL-subset parser + compiler to Spark DataFrame plans.

The reference delegates SPARQL to Oxigraph's Rust engine
(``/root/reference/mortar-parquet-client/client.py:42,52``). This module
implements, natively on DataFrames, the surface the Mortar corpus exercises
(SURVEY.md §2.4 G1-G8 — verified against the embedded queries at
``client.py:116-140``) plus the common constructs a user migrating from a
full SPARQL engine expects:

- basic graph patterns (conjunctive triple patterns, shared variables)
- ``a`` / ``rdf:type``
- property paths: sequences ``p1/p2``, closures ``p*``/``p+``/``p?``
  (``rdf:type/rdfs:subClassOf*``) matched against a per-scope cached
  transitive closure (plans/closure.py), inverses ``^p`` (also of
  closures: ``^p*``), alternation ``p1|p2`` of simple steps, and closure
  over an alternation ``(a|b)*`` (transitive closure of the union edge
  set; a modifier on a leg INSIDE an alternation still raises), and
  negated property sets ``!p`` / ``!(p1|p2)`` (forward members only)
- ``MINUS { ... }`` — left anti join on the shared variables
- ``FILTER EXISTS { ... }`` / ``FILTER NOT EXISTS { ... }`` — correlated
  existence test compiled to a broadcast left semi / left anti join on the
  shared variables (uncorrelated inner groups gate on any-match, the
  SPARQL-spec divergence from MINUS on disjoint domains)
- ``GRAPH <urn:site#> { ... }`` / ``GRAPH ?g { ... }`` — named-graph
  scoping with the reference's ``urn:{site}#`` naming (setup-graphs.py:18);
  a variable graph binds ``?g`` per matching graph, and shared ontology
  triples are visible inside every named graph (setup-graphs.py:22 parity)
- variable predicates ``?s ?p ?o`` (a lone variable in predicate position
  binds the predicate column; SPARQL forbids variables inside property
  paths, so modifiers/inverse/sequence/alternation over one still raise)
- blank-node property lists ``[ brick:hasTimeseriesId ?id ]``
- object lists ``?vav brick:hasPoint ?sen_point, ?sp_point``
- ``FILTER`` (comparisons, ``&&``/``||``/``!``, ``IN``/``NOT IN``,
  ``regex``, ``strstarts``, ``contains``, ``bound``, ``concat``,
  ``strlen``, ``replace``) — compiled to Column predicates/expressions
- ``OPTIONAL { ... }`` — left outer join on the shared variables
- ``{ ... } UNION { ... }`` — aligned unionByName with null-fill
- ``BIND(expr AS ?v)`` — ``withColumn`` over the compiled expression
  (applied after the group's patterns; expression grammar = the FILTER
  grammar, so string functions and comparisons work, arithmetic doesn't)
- ``VALUES ?x { ... }`` / ``VALUES (?x ?y) { (..) (..) }`` — inline
  broadcast frame joined into the group; ``UNDEF`` is a wildcard on shared
  variables and a null binding on new ones
- ``SELECT ?x ?y`` / ``SELECT *`` / ``SELECT DISTINCT``/``REDUCED`` /
  expression projections ``SELECT (expr AS ?alias)`` (over bindings, or
  over aggregate aliases after GROUP BY) / ``ORDER BY`` / ``LIMIT`` /
  ``OFFSET`` / trailing query-level ``VALUES``
- subqueries ``{ SELECT … }`` — compiled as their own solution sequence
  (aggregates/ORDER/LIMIT included) and joined on the projected variables
  shared with the outer group; inner non-projected variables stay hidden
- arithmetic ``+ - * /`` in BIND/FILTER (numeric coercion via try_cast
  double; integral BIND results stringify without a trailing ``.0``)
- aggregates: ``(COUNT(?v|*) AS ?n)`` (incl. ``DISTINCT``), ``SUM``,
  ``AVG``, ``MIN``, ``MAX``, ``SAMPLE`` (deterministic: MIN), and
  ``GROUP_CONCAT`` (``; SEPARATOR="…"``, sorted for determinism) with
  ``GROUP BY`` — one hash aggregate — and ``HAVING`` over the aliases or
  over direct aggregate calls (``HAVING (COUNT(?p) > 1)``, compiled via
  hidden aliases)

Compilation: a group's triple block (its basic graph pattern) matches on
the driver, against the scope's deduplicated triples indexed by predicate
(graphs fit on the driver by contract — see ``SparqlEngine``). Patterns are
greedily ordered most-selective-first (more constants first, literal-object
patterns like ``hasTimeseriesId`` ahead of wildcards) and each next pattern
shares a variable with the bound set when possible, so every step is a hash
join on shared variables, never an accidental cartesian product — the same
join-ordering job Oxigraph does internally (SURVEY.md §4 'SPARQL join
ordering' row). Path steps look up the scope's cached closure. The block's
solutions become one ``LocalRelation`` of string columns, so a BGP-only
query submits no Spark job; everything above the BGP (OPTIONAL, UNION,
MINUS, EXISTS, VALUES, BIND, FILTER, subqueries, aggregates and solution
modifiers) compiles to Spark over that frame.

Values are untyped lexical strings (parity with the reference's stringified
bindings, client.py:43,53): FILTER comparisons against numeric literals
coerce both sides with try_cast(double), everything else compares lexically.

``ASK { … }`` returns a single-row DataFrame with one boolean ``ask``
column. ``CONSTRUCT { template } WHERE { … }`` returns a deduplicated
(subject, predicate, object) DataFrame — one projection per template
triple over the solution frame, unioned; template variables unbound in a
solution (OPTIONAL) skip that triple per spec. ``DESCRIBE <iri>`` /
``DESCRIBE ?x WHERE { … }`` emits the outgoing triples of each described
resource (description semantics are implementation-defined by the spec;
skolemized bnodes need no closure). Still unsupported (raise
``SparqlUnsupported``): SERVICE, modifiers on individual alternation
legs ``(a*|b)``, blank nodes/paths in CONSTRUCT templates.
"""

from __future__ import annotations

import re
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mortar_parquet_support_spark.functions import local_frame
from mortar_parquet_support_spark.plans.closure import closure_pairs
from mortar_parquet_support_spark.sources.ttl import RDF_TYPE


class SparqlUnsupported(NotImplementedError):
    pass


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Term:
    kind: str  # var | iri | literal
    value: str


@dataclass(frozen=True)
class PathStep:
    predicate: str  # IRI, or variable name when ``is_var``
    modifier: str = ""  # '' | '*' | '+' | '?'
    inverse: bool = False  # ^p — subject/object roles swapped
    is_var: bool = False  # ?p — predicate position binds a variable


@dataclass(frozen=True)
class NegatedStep:
    """Negated property set ``!p`` / ``!(p1|p2)`` — matches any predicate
    NOT in the set (forward direction only; inverse members raise)."""

    predicates: tuple  # tuple[str, ...]
    modifier: str = ""  # always '' (modifiers on NPS unsupported)
    inverse: bool = False
    is_var: bool = False


@dataclass(frozen=True)
class AltStep:
    """Path alternation ``p1|p2|...`` of simple (possibly inverse) steps;
    matches if ANY alternative matches. A modifier (``(a|b)*``) closes over
    the UNION of the alternatives' edge sets."""

    steps: tuple  # tuple[PathStep, ...]
    modifier: str = ""  # '' | '*' | '+' | '?'


@dataclass(frozen=True)
class Pattern:
    """One atomic triple pattern; predicate is a single path step (sequences
    are expanded with fresh intermediate variables at parse time) or an
    alternation of simple steps."""

    subject: Term
    step: PathStep | AltStep
    obj: Term


# filter expression AST: ('cmp', op, a, b) | ('and'|'or', a, b) |
# ('not', a) | ('call', name, [args]) | Term
FilterExpr = tuple


@dataclass
class Group:
    """One group graph pattern: triples + filters + optional groups +
    union blocks (each a list of alternative sub-groups)."""

    triples: list[Pattern] = field(default_factory=list)
    filters: list[FilterExpr] = field(default_factory=list)
    unions: list[list["Group"]] = field(default_factory=list)
    #: OPTIONAL / MINUS clauses in TEXTUAL order ("optional"/"minus", group):
    #: the spec's left-to-right algebra is order-sensitive when a MINUS
    #: written before an OPTIONAL shares a variable with it (review finding
    #: r8 — compiling all optionals first let the optional binding leak
    #: into the MINUS compatibility domain). This is THE storage for both
    #: kinds; ``optionals``/``minuses`` are derived views (review r14: the
    #: old parallel lists had to be appended in lockstep at every parse
    #: site — one missed append would silently desynchronize parsing from
    #: compilation).
    opt_minus_order: list[tuple[str, "Group"]] = field(default_factory=list)

    @property
    def optionals(self) -> list["Group"]:
        return [g for k, g in self.opt_minus_order if k == "optional"]

    @property
    def minuses(self) -> list["Group"]:
        return [g for k, g in self.opt_minus_order if k == "minus"]
    #: (positive, group) — FILTER EXISTS {…} / FILTER NOT EXISTS {…}
    exists_filters: list[tuple[bool, "Group"]] = field(default_factory=list)
    graphs: list[tuple[Term, "Group"]] = field(default_factory=list)
    binds: list[tuple[str, FilterExpr]] = field(default_factory=list)
    #: (variables, rows) — row entries are strings or None for UNDEF
    values: list[tuple[list[str], list[list[str | None]]]] = field(default_factory=list)
    #: ``{ SELECT … }`` subqueries; only their projected variables join out
    subqueries: list["Query"] = field(default_factory=list)


@dataclass
class Query:
    select: list[str]  # output column names in order, or ['*']
    distinct: bool
    group: Group
    var_order: list[str]  # first-appearance order, for SELECT *
    order_by: list[tuple[str, bool]] = field(default_factory=list)  # (var, asc)
    limit: int | None = None
    offset: int | None = None
    #: alias -> (fn, target var or '*', distinct, separator)
    aggregates: dict[str, tuple[str, str, bool, str]] = field(default_factory=dict)
    #: alias -> expression for non-aggregate projections (SELECT (expr AS ?x))
    select_exprs: dict[str, FilterExpr] = field(default_factory=dict)
    group_by: list[str] = field(default_factory=list)
    having: list[FilterExpr] = field(default_factory=list)
    form: str = "select"  # 'select' | 'ask' | 'construct'
    #: CONSTRUCT template triples (plain terms only — no paths/bnodes)
    template: list[Pattern] = field(default_factory=list)

    @property
    def patterns(self) -> list[Pattern]:  # back-compat accessor
        return self.group.triples


# --------------------------------------------------------------------------
# Parser
# --------------------------------------------------------------------------

_SPARQL_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<comment>\#[^\n]*)
    | (?P<iriref><[^<>"{}|^`\\\s]*>)
    | (?P<string>"(?:[^"\\\n]|\\.)*")
    | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
    | (?P<num>[+-]?\d+\.\d+(?:[eE][+-]?\d+)?|[+-]?\d+[eE][+-]?\d+)
    | (?P<op>&&|\|\||!=|<=|>=|[=<>!])
    | (?P<punct>[;,.{}\[\]()/|^])
    | (?P<mod>[*+?](?=[\s;,.}\])|/]|$))
    | (?P<word>[^\s;,.{}\[\]()/|^?*+"#=<>!&]+)
    """,
    re.VERBOSE,
)

_UNSUPPORTED_RE = re.compile(
    r"^(service|group|having)$",
    re.IGNORECASE,
)

_FILTER_FUNCS = {
    "regex",
    "strstarts",
    "strends",
    "contains",
    "bound",
    "str",
    "lcase",
    "ucase",
    "concat",
    "strlen",
    "substr",
    "strbefore",
    "strafter",
    "replace",
    "abs",
    "ceil",
    "floor",
    "round",
    "coalesce",
    "if",
}

#: calls whose value is numeric — BIND stringifies their integral results
#: without a trailing '.0' (same normalization as arithmetic)
_NUMERIC_FNS = {"abs", "ceil", "floor", "round"}

# Well-known prefixes bound by default, mirroring the reference's rdflib
# namespace monkey-patch (reference client.py:17-23) which makes store-bound
# namespaces resolvable without per-query PREFIX declarations. Explicit
# PREFIX declarations in the query override these.
_DEFAULT_PREFIXES = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "brick": "https://brickschema.org/schema/Brick#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
}


@dataclass
class _SparqlParser:
    text: str
    pos: int = 0
    tokens: list[tuple[str, str]] = field(default_factory=list)
    prefixes: dict[str, str] = field(default_factory=dict)
    var_order: list[str] = field(default_factory=list)
    _fresh_n: int = 0
    #: aggregate map of the query whose HAVING is being parsed (else None)
    _having_aggs: dict | None = None

    def parse(self) -> Query:
        # anchored scan, not finditer: finditer silently SKIPS characters
        # no token class matches (an unterminated quote, a stray '%'),
        # making the query parse as something other than what was written
        # (review finding r8). An anchored match that fails is a loud lex
        # error at the exact offset.
        pos, n = 0, len(self.text)
        while pos < n:
            m = _SPARQL_TOKEN_RE.match(self.text, pos)
            if m is None:
                raise ValueError(
                    "SPARQL lex error at offset "
                    f"{pos}: {self.text[pos:pos + 20]!r}"
                )
            kind = m.lastgroup
            if kind == "iriref" and (
                m.group().startswith("<?")
                or "&&" in m.group()
                or "||" in m.group()
            ):
                # '<' immediately followed by a variable is a comparison,
                # not an IRI opener: FILTER(?x<?y&&?a>?b) must not lex
                # '<?y&&?a>' as one IRIREF (review finding r8; an IRIREF
                # body starting with '?' — a scheme-less query-only
                # reference — does not occur in real queries). The same
                # applies to a span containing a boolean connective —
                # FILTER(?x<2&&?y>1) would otherwise fold '<2&&?y>' into
                # one IRIREF ('&&' never appears in a real IRI).
                self.tokens.append(("op", "<"))
                pos += 1
                continue
            if kind not in ("ws", "comment"):
                self.tokens.append((kind, m.group()))
            pos = m.end()

        self.prefixes = {**_DEFAULT_PREFIXES, **self.prefixes}
        while self._peek_word_lower() == "prefix":
            self._next()
            _, pfx = self._expect("word")
            _, iri = self._expect("iriref")
            self.prefixes[pfx.rstrip(":")] = iri[1:-1]

        if self._peek_word_lower() == "ask":
            self._next()
            if self._peek_word_lower() == "where":
                self._next()
            self._expect_punct("{")
            group = self._parse_group()
            self._expect_punct("}")
            q = Query(select=[], distinct=False, group=group,
                      var_order=self.var_order, form="ask")
        elif self._peek_word_lower() == "construct":
            q = self._parse_construct_query()
        elif self._peek_word_lower() == "describe":
            q = self._parse_describe_query()
        else:
            q = self._parse_select_query()
        if self._peek()[0] != "eof":
            raise SparqlUnsupported(
                f"unsupported trailing SPARQL clause at: {self._peek()[1]!r}"
            )
        return q

    def _parse_select_query(self) -> Query:
        """``SELECT … WHERE { … } [solution modifiers]`` — the body shared
        by top-level queries and ``{ SELECT … }`` subqueries; stops at the
        first token that isn't a solution-modifier keyword."""
        if self._peek_word_lower() != "select":
            raise SparqlUnsupported(f"only SELECT queries are supported: {self.text[:80]}")
        self._next()
        distinct = False
        if self._peek_word_lower() == "distinct":
            distinct = True
            self._next()
        elif self._peek_word_lower() == "reduced":
            # REDUCED permits (but does not require) dedup — emitting the
            # deduplicated solution sequence is spec-conformant and gives
            # deterministic results
            distinct = True
            self._next()
        select: list[str] = []
        aggregates: dict[str, tuple[str, str, bool]] = {}
        select_exprs: dict[str, FilterExpr] = {}
        while True:
            kind, tok = self._peek()
            if kind == "var":
                select.append(tok[1:])
                self._next()
            elif kind == "mod" and tok == "*" and not select:
                select = ["*"]
                self._next()
                break
            elif kind == "punct" and tok == "(":
                nkind, ntok = (
                    self.tokens[self.pos + 1]
                    if self.pos + 1 < len(self.tokens)
                    else ("eof", "")
                )
                if nkind == "word" and ntok.lower() in self._AGG_FNS:
                    alias, spec = self._parse_select_aggregate()
                    select.append(alias)
                    aggregates[alias] = spec
                else:
                    # (expr AS ?alias) — non-aggregate projection
                    self._next()
                    expr = self._parse_filter_expr()
                    if self._peek_word_lower() != "as":
                        raise ValueError("SPARQL parse: projection needs 'AS ?alias'")
                    self._next()
                    alias = self._expect("var")[1][1:]
                    self._expect_punct(")")
                    select.append(alias)
                    select_exprs[alias] = expr
                    self._note_var(alias)
            else:
                break
        if self._peek_word_lower() == "where":
            self._next()
        self._expect_punct("{")
        group = self._parse_group()
        self._expect_punct("}")

        order_by: list[tuple[str, bool]] = []
        group_by: list[str] = []
        having: list[FilterExpr] = []
        limit = offset = None
        while True:
            w = self._peek_word_lower()
            if w == "group":
                self._next()
                if self._peek_word_lower() != "by":
                    raise ValueError("SPARQL parse: GROUP must be followed by BY")
                self._next()
                while self._peek()[0] == "var":
                    group_by.append(self._next()[1][1:])
                if not group_by:
                    raise ValueError("SPARQL parse: empty GROUP BY")
            elif w == "having":
                self._next()
                self._expect_punct("(")
                # aggregate calls directly inside HAVING (COUNT(?p) > 1)
                # compile via hidden aliases added to the aggregate map
                self._having_aggs = aggregates
                try:
                    having.append(self._parse_filter_expr())
                finally:
                    self._having_aggs = None
                self._expect_punct(")")
            elif w == "order":
                self._next()
                if self._peek_word_lower() != "by":
                    raise ValueError("SPARQL parse: ORDER must be followed by BY")
                self._next()
                while True:
                    kind, tok = self._peek()
                    if kind == "var":
                        self._next()
                        order_by.append((tok[1:], True))
                    elif kind == "word" and tok.lower() in ("asc", "desc"):
                        asc = tok.lower() == "asc"
                        self._next()
                        self._expect_punct("(")
                        _, v = self._expect("var")
                        self._expect_punct(")")
                        order_by.append((v[1:], asc))
                    else:
                        break
            elif w == "limit":
                self._next()
                limit = int(self._expect("word")[1])
            elif w == "offset":
                self._next()
                offset = int(self._expect("word")[1])
            elif w == "values":
                # query-level trailing VALUES joins the whole solution —
                # for inner-join semantics that equals an in-group VALUES
                self._next()
                group.values.append(self._parse_values_block())
            else:
                break
        return Query(
            select=select,
            distinct=distinct,
            group=group,
            var_order=self.var_order,
            order_by=order_by,
            limit=limit,
            offset=offset,
            aggregates=aggregates,
            group_by=group_by,
            having=having,
            select_exprs=select_exprs,
        )

    def _parse_construct_query(self) -> Query:
        """``CONSTRUCT { template } WHERE { … } [ORDER BY/LIMIT/OFFSET]``.

        The template must be a plain BGP: IRIs, literals, and variables
        only — SPARQL itself forbids property paths there, and blank-node
        templates (fresh bnode per solution) are not supported."""
        self._next()
        self._expect_punct("{")
        tmpl_group = self._parse_group()
        self._expect_punct("}")
        if (
            tmpl_group.filters or tmpl_group.optionals or tmpl_group.unions
            or tmpl_group.minuses or tmpl_group.exists_filters or tmpl_group.graphs
            or tmpl_group.binds or tmpl_group.values or tmpl_group.subqueries
        ):
            raise ValueError("SPARQL parse: CONSTRUCT template must be triples only")
        for pat in tmpl_group.triples:
            if (
                not isinstance(pat.step, PathStep)
                or pat.step.modifier
                or pat.step.inverse
            ):
                raise SparqlUnsupported("property path in CONSTRUCT template")
            if any(t.kind == "var" and t.value.startswith("__anon") for t in (pat.subject, pat.obj)):
                raise SparqlUnsupported("blank node in CONSTRUCT template")
        if self._peek_word_lower() == "where":
            self._next()
        self._expect_punct("{")
        group = self._parse_group()
        self._expect_punct("}")
        order_by: list[tuple[str, bool]] = []
        limit = offset = None
        while True:
            w = self._peek_word_lower()
            if w == "order":
                self._next()
                if self._peek_word_lower() != "by":
                    raise ValueError("SPARQL parse: ORDER must be followed by BY")
                self._next()
                while self._peek()[0] == "var":
                    order_by.append((self._next()[1][1:], True))
            elif w == "limit":
                self._next()
                limit = int(self._expect("word")[1])
            elif w == "offset":
                self._next()
                offset = int(self._expect("word")[1])
            else:
                break
        if not tmpl_group.triples:
            raise ValueError("SPARQL parse: empty CONSTRUCT template")
        return Query(
            select=[], distinct=False, group=group, var_order=self.var_order,
            order_by=order_by, limit=limit, offset=offset,
            form="construct", template=tmpl_group.triples,
        )

    def _parse_describe_query(self) -> Query:
        """``DESCRIBE <iri> [<iri>…]`` / ``DESCRIBE ?x [?y…] WHERE { … }``.

        Description semantics are implementation-defined by the SPARQL
        spec; this engine emits the outgoing triples of each described
        resource (subject-CBD without blank-node closure — skolemized
        bnodes are stable IRIs here, so no closure is needed)."""
        self._next()
        vars_: list[str] = []
        iris: list[str] = []
        while True:
            kind, tok = self._peek()
            if kind == "var":
                vars_.append(tok[1:])
                self._next()
            elif kind == "iriref":
                iris.append(tok[1:-1])
                self._next()
            elif kind == "word" and ":" in tok and tok.lower() != "where":
                iris.append(self._expand(tok))
                self._next()
            else:
                break
        if not vars_ and not iris:
            raise ValueError("SPARQL parse: DESCRIBE needs at least one resource")
        group = Group()
        if self._peek_word_lower() == "where" or self._peek() == ("punct", "{"):
            if self._peek_word_lower() == "where":
                self._next()
            self._expect_punct("{")
            group = self._parse_group()
            self._expect_punct("}")
        elif vars_:
            raise ValueError("SPARQL parse: DESCRIBE ?var needs a WHERE clause")
        # stash the described IRIs as pseudo-select entries prefixed so the
        # compiler can tell them from variables
        return Query(
            select=vars_ + [f"<{i}>" for i in iris], distinct=False, group=group,
            var_order=self.var_order, form="describe",
        )

    _AGG_FNS = {"count", "sum", "avg", "min", "max", "sample", "group_concat"}

    def _parse_select_aggregate(self) -> tuple[str, tuple[str, str, bool, str]]:
        """``(COUNT(DISTINCT ?x) AS ?n)`` / ``(COUNT(*) AS ?n)`` /
        ``(SUM(?v) AS ?s)`` / ``(GROUP_CONCAT(?v; SEPARATOR=",") AS ?g)``
        in a SELECT clause; spec = (fn, target, distinct, separator)."""
        self._expect_punct("(")
        kind, fn_tok = self._next()
        fn = fn_tok.lower() if kind == "word" else ""
        if fn not in self._AGG_FNS:
            raise SparqlUnsupported(f"unsupported SELECT expression: {fn_tok!r}")
        self._expect_punct("(")
        distinct = False
        if self._peek_word_lower() == "distinct":
            distinct = True
            self._next()
        kind, tok = self._peek()
        if kind == "mod" and tok == "*":
            if fn != "count":
                raise ValueError(f"SPARQL parse: {fn.upper()}(*) is not legal")
            target = "*"
            self._next()
        else:
            target = self._expect("var")[1][1:]
        sep = " "  # the SPARQL-spec default GROUP_CONCAT separator
        if self._peek() == ("punct", ";"):
            self._next()
            if self._peek_word_lower() != "separator":
                raise ValueError("SPARQL parse: expected SEPARATOR after ';'")
            self._next()
            kind, tok = self._next()
            if not (kind == "op" and tok == "="):
                raise ValueError("SPARQL parse: SEPARATOR needs '='")
            sep = _unescape_string(self._expect("string")[1][1:-1])
        self._expect_punct(")")
        if self._peek_word_lower() != "as":
            raise ValueError("SPARQL parse: aggregate needs 'AS ?alias'")
        self._next()
        alias = self._expect("var")[1][1:]
        self._expect_punct(")")
        return alias, (fn, target, distinct, sep)

    # -- token plumbing --
    def _peek(self):
        return self.tokens[self.pos] if self.pos < len(self.tokens) else ("eof", "")

    def _peek_word_lower(self):
        kind, tok = self._peek()
        return tok.lower() if kind == "word" else None

    def _next(self):
        tok = self._peek()
        self.pos += 1
        return tok

    def _expect(self, kind):
        tok = self._next()
        if tok[0] != kind:
            raise ValueError(f"SPARQL parse: expected {kind}, got {tok}")
        return tok

    def _expect_punct(self, want):
        kind, tok = self._next()
        if kind != "punct" or tok != want:
            raise ValueError(f"SPARQL parse: expected {want!r}, got {tok!r}")

    def _fresh_var(self) -> str:
        self._fresh_n += 1
        return f"__anon{self._fresh_n}"

    def _note_var(self, name: str) -> None:
        if name not in self.var_order and not name.startswith("__anon"):
            self.var_order.append(name)

    # -- group grammar --
    def _parse_group(self) -> Group:
        group = Group()
        while True:
            kind, tok = self._peek()
            if kind == "punct" and tok == "}":
                return group
            if kind == "eof":
                raise ValueError("SPARQL parse: unterminated group")
            if kind == "word" and tok.lower() == "filter":
                self._next()
                w = self._peek_word_lower()
                if w in ("exists", "not"):
                    positive = w == "exists"
                    self._next()
                    if not positive:
                        if self._peek_word_lower() != "exists":
                            raise ValueError("SPARQL parse: FILTER NOT needs EXISTS")
                        self._next()
                    self._expect_punct("{")
                    group.exists_filters.append((positive, self._parse_group()))
                    self._expect_punct("}")
                else:
                    nkind, ntok = self._peek()
                    if nkind == "word" and ntok.lower() in _FILTER_FUNCS:
                        # Constraint ::= BrackettedExpression | BuiltInCall:
                        # the bare form 'FILTER regex(?n, "x")' / 'FILTER
                        # bound(?v)' is spec-legal without outer parens
                        # (review finding r8)
                        group.filters.append(self._parse_filter_expr())
                    else:
                        self._expect_punct("(")
                        group.filters.append(self._parse_filter_expr())
                        self._expect_punct(")")
                while self._peek() == ("punct", "."):
                    self._next()
                continue
            if kind == "word" and tok.lower() == "optional":
                self._next()
                self._expect_punct("{")
                og = self._parse_group()
                group.opt_minus_order.append(("optional", og))
                self._expect_punct("}")
                while self._peek() == ("punct", "."):
                    self._next()
                continue
            if kind == "word" and tok.lower() == "graph":
                self._next()
                gterm = self._parse_term(position="graph", group=group)
                if gterm.kind == "literal":
                    raise ValueError("SPARQL parse: GRAPH needs an IRI or variable")
                self._expect_punct("{")
                group.graphs.append((gterm, self._parse_group()))
                self._expect_punct("}")
                while self._peek() == ("punct", "."):
                    self._next()
                continue
            if kind == "word" and tok.lower() == "minus":
                self._next()
                self._expect_punct("{")
                mg = self._parse_group()
                group.opt_minus_order.append(("minus", mg))
                self._expect_punct("}")
                while self._peek() == ("punct", "."):
                    self._next()
                continue
            if kind == "word" and tok.lower() == "bind":
                self._next()
                self._expect_punct("(")
                expr = self._parse_filter_expr()
                if self._peek_word_lower() != "as":
                    raise ValueError("SPARQL parse: BIND needs 'AS ?var'")
                self._next()
                _, v = self._expect("var")
                self._expect_punct(")")
                group.binds.append((v[1:], expr))
                self._note_var(v[1:])
                while self._peek() == ("punct", "."):
                    self._next()
                continue
            if kind == "word" and tok.lower() == "values":
                self._next()
                group.values.append(self._parse_values_block())
                while self._peek() == ("punct", "."):
                    self._next()
                continue
            if kind == "punct" and tok == "{":
                self._next()
                if self._peek_word_lower() == "select":
                    subq = self._parse_select_query()
                    self._expect_punct("}")
                    group.subqueries.append(subq)
                    if subq.select != ["*"]:
                        for v in subq.select:
                            self._note_var(v)
                    while self._peek() == ("punct", "."):
                        self._next()
                    continue
                alternatives = [self._parse_group()]
                self._expect_punct("}")
                while self._peek_word_lower() == "union":
                    self._next()
                    self._expect_punct("{")
                    alternatives.append(self._parse_group())
                    self._expect_punct("}")
                if len(alternatives) == 1 and not (
                    alternatives[0].filters
                    or alternatives[0].exists_filters
                    or alternatives[0].binds
                ):
                    # plain nested group: flatten into the parent.
                    # Groups carrying FILTERs or BINDs are NOT flattened —
                    # their expressions scope to the inner group per the
                    # spec (an inner FILTER(?x > 5) whose ?x binds only
                    # OUTSIDE must evaluate against an unbound ?x, not the
                    # outer binding hoisting would hand it; review r14) —
                    # they compile as a single-branch union below, which
                    # evaluates the group in its own scope then joins.
                    inner = alternatives[0]
                    group.triples.extend(inner.triples)
                    group.filters.extend(inner.filters)
                    group.unions.extend(inner.unions)
                    group.opt_minus_order.extend(inner.opt_minus_order)
                    group.exists_filters.extend(inner.exists_filters)
                    group.graphs.extend(inner.graphs)
                    group.binds.extend(inner.binds)
                    group.values.extend(inner.values)
                    group.subqueries.extend(inner.subqueries)
                else:
                    group.unions.append(alternatives)
                while self._peek() == ("punct", "."):
                    self._next()
                continue
            if kind == "word" and _UNSUPPORTED_RE.fullmatch(tok):
                raise SparqlUnsupported(f"unsupported SPARQL construct: {tok}")
            subject = self._parse_term(position="subject", group=group)
            self._parse_predicate_object_list(subject, group)
            while self._peek() == ("punct", "."):
                self._next()

    def _parse_values_block(self) -> tuple[list[str], list[list[str | None]]]:
        """``VALUES ?x { t1 t2 }`` or ``VALUES (?x ?y) { (t t) (t UNDEF) }``."""
        kind, tok = self._peek()
        parenthesized = kind == "punct" and tok == "("
        vars_: list[str] = []
        if parenthesized:
            self._next()
            while self._peek()[0] == "var":
                vars_.append(self._next()[1][1:])
            self._expect_punct(")")
        else:
            vars_.append(self._expect("var")[1][1:])
        if not vars_:
            raise ValueError("SPARQL parse: VALUES needs at least one variable")
        for v in vars_:
            self._note_var(v)
        self._expect_punct("{")
        rows: list[list[str | None]] = []
        while self._peek() != ("punct", "}"):
            if self._peek()[0] == "eof":
                raise ValueError("SPARQL parse: unterminated VALUES block")
            if parenthesized:
                self._expect_punct("(")
                row = [self._parse_values_entry() for _ in vars_]
                self._expect_punct(")")
            else:
                row = [self._parse_values_entry()]
            rows.append(row)
        self._expect_punct("}")
        return vars_, rows

    def _parse_values_entry(self) -> str | None:
        if self._peek()[0] == "word" and self._peek()[1].lower() == "undef":
            self._next()
            return None
        term = self._parse_term(position="values", group=Group())
        if term.kind == "var":
            raise ValueError("SPARQL parse: variables are not legal inside VALUES data")
        return term.value

    def _parse_predicate_object_list(self, subject: Term, group: Group) -> None:
        while True:
            path = self._parse_path()
            self._parse_object_list(subject, path, group)
            if self._peek() == ("punct", ";"):
                while self._peek() == ("punct", ";"):
                    self._next()
                kind, tok = self._peek()
                if (kind == "punct" and tok in (".", "}", "]")) or kind == "eof":
                    return
                continue
            return

    def _parse_object_list(self, subject: Term, path: list[PathStep], group: Group) -> None:
        while True:
            obj = self._parse_term(position="object", group=group)
            self._emit_path(subject, path, obj, group)
            if self._peek() == ("punct", ","):
                self._next()
                continue
            return

    def _parse_path(self) -> list[PathStep | AltStep]:
        steps: list[PathStep | AltStep] = []
        while True:
            steps.append(self._parse_path_step())
            if self._peek() == ("punct", "/"):
                self._next()
                continue
            if len(steps) > 1 and any(
                isinstance(s, PathStep) and s.is_var for s in steps
            ):
                raise SparqlUnsupported("variable inside a path sequence")
            return steps

    def _parse_path_step(self) -> PathStep | AltStep:
        """One sequence element: a simple (possibly inverse, possibly
        modified) step, or an alternation ``p1|p2|...`` of simple steps."""
        alts = [self._parse_path_atom()]
        while self._peek() == ("punct", "|"):
            self._next()
            alts.append(self._parse_path_atom())
        if len(alts) == 1:
            return alts[0]
        # members must be SIMPLE steps: AltStep/NegatedStep members lack
        # .modifier/.is_var and would crash below with AttributeError
        # instead of the documented unsupported-construct error
        if any(not isinstance(a, PathStep) for a in alts):
            raise SparqlUnsupported("nested alternation / negated set in alternation")
        if any(a.modifier for a in alts):
            raise SparqlUnsupported("closure modifiers inside path alternation")
        if any(a.is_var for a in alts):
            raise SparqlUnsupported("variable inside a path alternation")
        return AltStep(tuple(alts))

    def _parse_path_atom(self) -> PathStep:
        if self._peek() == ("op", "!"):
            return self._parse_negated_set()
        inverse = False
        if self._peek() == ("punct", "^"):
            self._next()
            inverse = True
        kind, tok = self._peek()
        if kind == "punct" and tok == "(":
            self._next()
            inner = self._parse_path_step()
            self._expect_punct(")")
            if isinstance(inner, AltStep):
                if self._peek()[0] == "mod":
                    # (a|b)* — closure over the union of the legs' edges
                    inner = AltStep(inner.steps, self._next()[1])
                if inverse:  # ^(a|b) == (^a|^b); ^((a|b)*) == ((^a|^b))*
                    inner = AltStep(
                        tuple(
                            PathStep(s.predicate, s.modifier, not s.inverse)
                            for s in inner.steps
                        ),
                        inner.modifier,
                    )
                # a parenthesized alternation parses as a step; re-wrap and
                # treat as the atom (caller may extend with more |)
                if self._peek() == ("punct", "|"):
                    raise SparqlUnsupported("nested path alternation")
                return inner  # type: ignore[return-value]
            step = inner
            if not isinstance(step, PathStep):
                # (!p) with a modifier/inverse would crash on .predicate;
                # bare parenthesized negated sets pass through unchanged
                if self._peek()[0] == "mod" or inverse:
                    raise SparqlUnsupported(
                        "modifier/inverse on a parenthesized negated set"
                    )
                return step
            if self._peek()[0] == "mod":
                if step.modifier:
                    raise SparqlUnsupported("double path modifier")
                step = PathStep(step.predicate, self._next()[1], step.inverse)
            if inverse:
                step = PathStep(step.predicate, step.modifier, not step.inverse)
            return step
        kind, tok = self._next()
        if kind == "word" and tok == "a":
            iri = RDF_TYPE
        elif kind == "iriref":
            iri = tok[1:-1]
        elif kind == "word":
            iri = self._expand(tok)
        elif kind == "var":
            # a lone variable in predicate position (VerbSimple); SPARQL
            # forbids variables inside property paths, so no inverse,
            # modifier, sequence, or alternation may apply to it
            if inverse:
                raise SparqlUnsupported("inverse of a variable predicate")
            if self._peek()[0] == "mod":
                raise SparqlUnsupported("path modifier on a variable predicate")
            self._note_var(tok[1:])
            return PathStep(tok[1:], "", False, is_var=True)
        else:
            raise ValueError(f"SPARQL parse: bad predicate token {tok!r}")
        modifier = ""
        if self._peek()[0] == "mod":
            modifier = self._next()[1]
        return PathStep(iri, modifier, inverse)

    def _parse_negated_set(self) -> "NegatedStep":
        """``!p`` or ``!(p1|p2|…)`` — predicate IRIs only, no inverse."""
        self._next()  # '!'
        preds: list[str] = []

        def one() -> str:
            kind, tok = self._next()
            if kind == "punct" and tok == "^":
                raise SparqlUnsupported("inverse member in a negated property set")
            if kind == "word" and tok == "a":
                return RDF_TYPE
            if kind == "iriref":
                return tok[1:-1]
            if kind == "word":
                return self._expand(tok)
            raise ValueError(f"SPARQL parse: bad negated-set member {tok!r}")

        if self._peek() == ("punct", "("):
            self._next()
            preds.append(one())
            while self._peek() == ("punct", "|"):
                self._next()
                preds.append(one())
            self._expect_punct(")")
        else:
            preds.append(one())
        if self._peek()[0] == "mod":
            raise SparqlUnsupported("path modifier on a negated property set")
        return NegatedStep(tuple(preds))

    def _parse_term(self, position: str, group: Group) -> Term:
        kind, tok = self._next()
        if kind == "var":
            self._note_var(tok[1:])
            return Term("var", tok[1:])
        if kind == "iriref":
            return Term("iri", tok[1:-1])
        if kind == "string":
            value = tok[1:-1]
            nkind, ntok = self._peek()
            if nkind == "punct" and ntok == "^":  # "x"^^<dt> — drop datatype
                self._next()
                self._expect_punct("^")
                self._next()
            elif nkind == "word" and re.fullmatch(r"@[A-Za-z][A-Za-z0-9-]*", ntok):
                # "x"@en — drop the language tag, matching the Turtle
                # loader's stored representation (bare lexical form);
                # previously '@en' fell through to the term parser as a
                # bogus subject (review finding r8)
                self._next()
            return Term("literal", _unescape_string(value))
        if kind == "num":
            return Term("literal", tok)
        if kind == "word":
            if re.fullmatch(r"[+-]?\d+(\.\d*)?([eE][+-]?\d+)?|true|false", tok):
                return Term("literal", tok)
            return Term("iri", self._expand(tok))
        if kind == "punct" and tok == "[":
            node = Term("var", self._fresh_var())
            if self._peek() != ("punct", "]"):
                self._parse_predicate_object_list(node, group)
            self._expect_punct("]")
            return node
        raise ValueError(f"SPARQL parse: bad {position} token {kind} {tok!r}")

    def _expand(self, tok: str) -> str:
        if ":" not in tok:
            raise ValueError(f"SPARQL parse: not a prefixed name: {tok!r}")
        pfx, local = tok.split(":", 1)
        if pfx not in self.prefixes:
            raise ValueError(f"SPARQL parse: unknown prefix {pfx!r}")
        return self.prefixes[pfx] + local

    def _emit_path(self, subject: Term, steps: list[PathStep], obj: Term, group: Group) -> None:
        """Expand a sequence path into atomic patterns with fresh middles."""
        current = subject
        for i, step in enumerate(steps):
            is_last = i == len(steps) - 1
            nxt = obj if is_last else Term("var", self._fresh_var())
            group.triples.append(Pattern(current, step, nxt))
            current = nxt

    # -- FILTER expressions (precedence: || < && < ! < cmp < primary) --
    def _parse_filter_expr(self) -> FilterExpr:
        return self._parse_or()

    def _parse_or(self) -> FilterExpr:
        left = self._parse_and()
        while self._peek() == ("op", "||"):
            self._next()
            left = ("or", left, self._parse_and())
        return left

    def _parse_and(self) -> FilterExpr:
        left = self._parse_not()
        while self._peek() == ("op", "&&"):
            self._next()
            left = ("and", left, self._parse_not())
        return left

    def _parse_not(self) -> FilterExpr:
        if self._peek() == ("op", "!"):
            self._next()
            return ("not", self._parse_not())
        return self._parse_cmp()

    def _parse_cmp(self) -> FilterExpr:
        left = self._parse_add()
        kind, tok = self._peek()
        if kind == "op" and tok in ("=", "!=", "<", ">", "<=", ">="):
            self._next()
            right = self._parse_add()
            return ("cmp", tok, left, right)
        if kind == "word" and tok.lower() == "in":
            self._next()
            return ("in", left, self._parse_in_list(), False)
        if kind == "word" and tok.lower() == "not":
            save = self.pos
            self._next()
            if self._peek_word_lower() == "in":
                self._next()
                return ("in", left, self._parse_in_list(), True)
            self.pos = save
        return left

    def _parse_in_list(self) -> list:
        """``IN (e1, e2, …)`` — any filter expressions, usually constants."""
        self._expect_punct("(")
        elems = []
        while self._peek() != ("punct", ")"):
            elems.append(self._parse_filter_expr())
            if self._peek() == ("punct", ","):
                self._next()
        self._expect_punct(")")
        return elems

    # arithmetic: operators must be whitespace-separated (the tokenizer
    # folds a sign into an adjacent number, so ``?x+1`` won't parse — the
    # SPARQL spec itself flags this lexical ambiguity for ``-``)
    def _parse_add(self) -> FilterExpr:
        left = self._parse_mul()
        while True:
            kind, tok = self._peek()
            if (kind == "mod" and tok == "+") or (kind == "word" and tok == "-"):
                self._next()
                left = ("arith", tok, left, self._parse_mul())
            else:
                return left

    def _parse_mul(self) -> FilterExpr:
        left = self._parse_primary()
        while True:
            kind, tok = self._peek()
            if (kind == "mod" and tok == "*") or (kind == "punct" and tok == "/"):
                self._next()
                left = ("arith", tok, left, self._parse_primary())
            else:
                return left

    def _parse_primary(self) -> FilterExpr:
        kind, tok = self._peek()
        if kind == "word" and tok == "-":  # unary minus
            self._next()
            return ("arith", "-", Term("literal", "0"), self._parse_primary())
        if kind == "punct" and tok == "(":
            self._next()
            inner = self._parse_filter_expr()
            self._expect_punct(")")
            return inner
        if kind == "var":
            self._next()
            return Term("var", tok[1:])
        if kind == "num":
            self._next()
            return Term("literal", tok)
        if kind == "string":
            self._next()
            nkind, ntok = self._peek()
            if nkind == "word" and re.fullmatch(r"@[A-Za-z][A-Za-z0-9-]*", ntok):
                self._next()  # "x"@en in a filter — tag dropped (TTL parity)
            elif nkind == "punct" and ntok == "^":
                # "5"^^xsd:integer in a FILTER — drop the datatype exactly
                # like _parse_term does in triple/VALUES positions; the
                # leftover '^' tokens previously aborted the whole query
                # with "expected ')'" (review r14)
                self._next()
                self._expect_punct("^")
                self._next()  # the datatype IRI / pname
            return Term("literal", _unescape_string(tok[1:-1]))
        if kind == "iriref":
            self._next()
            return Term("iri", tok[1:-1])
        if kind == "word":
            # true/false accepted exactly like _parse_term does in triple
            # positions — the same literal must not work as an object but
            # crash inside a FILTER (review r14)
            if re.fullmatch(r"[+-]?\d+(\.\d*)?([eE][+-]?\d+)?|true|false", tok):
                self._next()
                return Term("literal", tok)
            if self._having_aggs is not None and tok.lower() in self._AGG_FNS:
                # HAVING (COUNT(?p) > 1): register a hidden aggregate and
                # reference it like an alias
                fn = tok.lower()
                self._next()
                self._expect_punct("(")
                distinct = False
                if self._peek_word_lower() == "distinct":
                    distinct = True
                    self._next()
                nkind, ntok = self._peek()
                if nkind == "mod" and ntok == "*":
                    if fn != "count":
                        raise ValueError(f"SPARQL parse: {fn.upper()}(*) is not legal")
                    target = "*"
                    self._next()
                else:
                    target = self._expect("var")[1][1:]
                self._expect_punct(")")
                alias = f"__hagg{len(self._having_aggs)}"
                self._having_aggs[alias] = (fn, target, distinct, " ")
                return Term("var", alias)
            if tok.lower() in _FILTER_FUNCS:
                self._next()
                self._expect_punct("(")
                args = []
                while self._peek() != ("punct", ")"):
                    args.append(self._parse_filter_expr())
                    if self._peek() == ("punct", ","):
                        self._next()
                self._expect_punct(")")
                return ("call", tok.lower(), args)
            if ":" in tok:  # prefixed IRI in a filter
                self._next()
                return Term("iri", self._expand(tok))
        raise SparqlUnsupported(f"unsupported FILTER term: {kind} {tok!r}")


# SPARQL ECHAR/UCHAR decoding must be byte-identical to the Turtle
# loader's (the data stores REAL control characters, so a FILTER literal
# written "a\nb" must compare with a real newline) — one shared decoder
# instead of two hand-synchronized copies (review r14; the r8 finding
# fixed the regex once, in both places).
from mortar_parquet_support_spark.sources.ttl import (  # noqa: E402
    decode_string_escapes as _unescape_string,
)


def parse_sparql(query: str) -> Query:
    return _SparqlParser(text=query).parse()


def _stringify_numeric(bexpr, c):
    """For arithmetic / numeric-builtin expressions, stringify with
    SPARQL's xsd:integer parity — integral results print without the '.0'
    a double cast would add. Returns None for non-numeric expressions so
    each caller keeps its own default (BIND casts to string; SELECT
    expressions stay raw until the final stringify-all). One helper — the
    two paths must normalize numerics identically."""
    if isinstance(bexpr, tuple) and not isinstance(bexpr, Term) and (
        bexpr[0] == "arith"
        or (bexpr[0] == "call" and bexpr[1] in _NUMERIC_FNS)
    ):
        return F.when(c == F.floor(c), c.cast("long").cast("string")).otherwise(
            c.cast("string")
        )
    return None


def _apply_regex_flags(pattern: str, args: list, flag_pos: int, fn: str) -> str:
    """Translate a SPARQL regex/replace flags argument into a Java-regex
    inline-flag prefix. Silently DROPPING flags turned case-insensitive
    matches case-sensitive — wrong rows, no error. Supported: i s m x
    (Java inline equivalents); 'q' (literal) via Pattern.quote semantics."""
    if len(args) <= flag_pos:
        return pattern
    flags_term = args[flag_pos]
    if not (isinstance(flags_term, Term) and flags_term.kind == "literal"):
        raise SparqlUnsupported(f"{fn}() flags must be a string literal")
    flags = flags_term.value
    if flags == "":
        return pattern
    if flags == "q":
        return re.escape(pattern)
    if not set(flags) <= set("ismx"):
        raise SparqlUnsupported(f"{fn}() flags {flags!r} not supported")
    return f"(?{flags})" + pattern


# --------------------------------------------------------------------------
# Compiler
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class _Scope:
    """Which triples a group graph pattern matches: one site plus the
    shared pseudo-sites (``site``), or the union of every site
    (``site=None``). ``gvar`` names the variable of a ``GRAPH ?g`` clause:
    every triple then also binds it to its graph's ``urn:{site}#`` IRI,
    and a shared triple binds every named graph."""

    site: str | None = None
    gvar: str | None = None


class _TripleIndex:
    """One scope's deduplicated ``(graph, subject, predicate, object)``
    quads, bucketed by predicate. ``graph`` is the graph IRI in a
    ``GRAPH ?g`` scope — ``None`` for a shared triple, which stands for
    every IRI in ``graphs`` — and ``None`` in every other scope. Path
    closures and the term set are computed on first use and kept."""

    def __init__(self, quads, graphs: tuple = ()):
        self.quads = list(dict.fromkeys(quads))
        self.graphs = graphs
        self.by_pred: dict[str, list[tuple]] = defaultdict(list)
        for q in self.quads:
            self.by_pred[q[2]].append(q)
        self._terms: list[str] | None = None
        self._paths: dict[tuple, tuple] = {}

    def candidates(self, step) -> list[tuple]:
        """Quads whose predicate can match ``step``."""
        if isinstance(step, NegatedStep):
            return [q for q in self.quads if q[2] not in step.predicates]
        if step.is_var:
            return self.quads
        return self.by_pred.get(step.predicate, [])

    def expand(self, quads: list[tuple]):
        """Shared quads once per named graph (``GRAPH ?g`` scopes)."""
        for q in quads:
            if q[0] is None:
                yield from ((g, *q[1:]) for g in self.graphs)
            else:
                yield q

    def terms(self) -> list[str]:
        """Every subject and object: the zero-length path's domain."""
        if self._terms is None:
            self._terms = list(dict.fromkeys(t for q in self.quads for t in (q[1], q[3])))
        return self._terms

    def path(self, legs: tuple, strict: bool) -> tuple:
        """``(pairs, forward, backward)`` of a path over the union of the
        ``(predicate, inverse)`` legs' edges: their strict transitive
        closure for ``*``/``+``, the single hops for ``?``. ``forward``
        maps a source to its sorted destinations, ``backward`` the reverse."""
        key = (legs, strict)
        if key not in self._paths:
            edges = {
                (o, s) if inverse else (s, o)
                for p, inverse in legs
                for _, s, _, o in self.by_pred.get(p, ())
            }
            pairs = closure_pairs(edges) if strict else edges
            forward: dict[str, list[str]] = defaultdict(list)
            backward: dict[str, list[str]] = defaultdict(list)
            for a, b in sorted(pairs):
                forward[a].append(b)
                backward[b].append(a)
            self._paths[key] = (pairs, forward, backward)
        return self._paths[key]


def _hash_join(lvars: list, lrows: list, rvars: list, rrows) -> tuple[list, list]:
    """Natural inner join of two solution tables (variable names + rows of
    equal-length tuples) on their shared variables, hashing the right
    side; no shared variable makes a cross product. Duplicate-free inputs
    give a duplicate-free output."""
    li = [lvars.index(v) for v in rvars if v in lvars]
    ri = [i for i, v in enumerate(rvars) if v in lvars]
    extra = [i for i, v in enumerate(rvars) if v not in lvars]
    table: dict[tuple, list[tuple]] = defaultdict(list)
    for r in rrows:
        table[tuple(r[i] for i in ri)].append(tuple(r[i] for i in extra))
    rows = [
        row + tail
        for row in lrows
        for tail in table.get(tuple(row[i] for i in li), ())
    ]
    return lvars + [rvars[i] for i in extra], rows


# One definition of "numeric literal" / "numeric comparison" shared by
# compilation (_compile_filter) AND the nullability analysis
# (_expr_may_be_null): the analysis is correct only while it mirrors what
# compilation actually try_casts, so both must read the same predicate.
_NUMERIC_LIT_RE = re.compile(r"[+-]?\d+(\.\d*)?([eE][+-]?\d+)?")


def _is_numeric_literal(t) -> bool:
    return (
        isinstance(t, Term)
        and t.kind == "literal"
        and _NUMERIC_LIT_RE.fullmatch(t.value) is not None
    )


def _is_numeric_cmp(lhs, rhs) -> bool:
    """Does _compile_filter put this comparison through try_cast('double')
    on both sides?"""
    return any(
        _is_numeric_literal(t)
        or (isinstance(t, tuple) and not isinstance(t, Term) and t[0] == "arith")
        for t in (lhs, rhs)
    )


class SparqlEngine:
    """Compile + run parsed SPARQL over a triples DataFrame.

    ``triples`` must have columns (site, subject, predicate, object); extra
    columns are ignored. Contract: the triples fit on the driver. Every
    caller already meets it, because ``load_graph_dir`` and ``parse_ttl``
    parse graphs there. The first query collects them once, and each scope
    (one site plus the shared pseudo-sites, or the union of all sites)
    keeps a deduplicated, predicate-bucketed index built on first use (RDF
    set semantics). A group's basic graph pattern matches against that
    index on the driver, so a BGP-only query submits no Spark job; the
    scope's path closures are cached with its index (SURVEY.md §4).
    """

    def __init__(self, triples: DataFrame, *, shared_sites: list[str] | None = None):
        """``shared_sites`` are pseudo-sites (e.g. a loaded ontology under
        '__ontology__') whose triples are visible in EVERY per-site scope —
        the reference's per-graph Brick ontology load (setup-graphs.py:22)
        without 45 duplicate copies."""
        self.triples = triples.select("site", "subject", "predicate", "object")
        self.spark = triples.sparkSession
        self.shared_sites = list(shared_sites or [])
        self._by_site: dict[str, list[tuple]] | None = None
        self._indexes: dict[tuple, _TripleIndex] = {}
        #: BIND aliases known to carry numeric values (they are
        #: stringified for the uniform schema; ORDER BY casts them back
        #: so the sort is numeric, not lexical — review r14). Reset per
        #: sql() call: a stale entry from a previous query would cast a
        #: later query's same-named STRING alias to double (NULLs) and
        #: corrupt ITS sort.
        self._numeric_bind_aliases: set[str] = set()

    # -- public API --
    def sql(self, query: str, *, site: str | None = None) -> DataFrame:
        """Run a SPARQL query; all result columns are strings (parity with
        the reference's stringified bindings, client.py:43,53)."""
        parsed = parse_sparql(query)
        self._numeric_bind_aliases = set()  # per-query (see __init__)
        return self._compile_query(parsed, _Scope(site=site))

    def _graph_scope(self, gterm: Term) -> _Scope:
        """Scope for a GRAPH clause. Graph names follow the reference's
        ``urn:{site}#`` convention (setup-graphs.py:18). Shared pseudo-sites
        (the loaded ontology) are visible inside EVERY named graph, exactly
        as the reference parses Brick into each graph (setup-graphs.py:22).
        A graph variable carries the ``urn:{site}#`` IRI from the scope on,
        so an inner FILTER, triple position or VALUES over it compares
        against the IRI (review r14)."""
        if gterm.kind == "iri":
            m = re.fullmatch(r"urn:(.*)#", gterm.value)
            return _Scope(site=m.group(1) if m else gterm.value)
        return _Scope(gvar=gterm.value)

    def _index(self, scope: _Scope) -> _TripleIndex:
        """The scope's triple index. The first call collects the triples,
        grouped by site as ``(None, s, p, o)`` quads that every index
        shares, so a per-site index adds references to the shared
        ontology, not copies of it."""
        key = (scope.site, scope.gvar is not None)
        if key not in self._indexes:
            if self._by_site is None:
                by_site: dict[str, list[tuple]] = defaultdict(list)
                tbl = self.triples.toArrow()
                for site, *spo in zip(*(c.to_pylist() for c in tbl.columns)):
                    by_site[site].append((None, *spo))
                self._by_site = dict(by_site)
            by_site, shared = self._by_site, self.shared_sites
            if scope.gvar is not None:
                real = sorted(site for site in by_site if site not in shared)
                quads = [(f"urn:{site}#", *q[1:]) for site in real for q in by_site[site]]
                quads += [q for site in shared for q in by_site.get(site, ())]
                index = _TripleIndex(quads, graphs=tuple(f"urn:{s}#" for s in real))
            else:
                sites = by_site if scope.site is None else [scope.site, *shared]
                index = _TripleIndex(q for site in sites for q in by_site.get(site, ()))
            self._indexes[key] = index
        return self._indexes[key]

    # -- compilation --
    def _compile_query(self, q: Query, scope: _Scope, *, want_nullable: bool = False):
        if q.form == "describe":
            assert not want_nullable
            return self._describe(q, scope)
        acc, bound, gnullable = self._compile_group(q.group, scope)
        if acc is None:
            raise SparqlUnsupported("empty WHERE group")
        if q.form == "ask":
            # one boolean row; agg over limit(1) stays lazy and evaluates
            # no more of the pattern than existence requires
            out = acc.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))
            return (out, set()) if want_nullable else out
        if q.form == "construct":
            out = self._construct(q, acc, bound)
            return (out, set()) if want_nullable else out
        if q.aggregates:
            acc = self._apply_aggregates(q, acc, bound)
            hbound = set(q.group_by) | set(q.aggregates)
            for h in q.having:
                acc = acc.filter(self._compile_filter(h, hbound))
            out_vars = q.select
        elif q.group_by or q.having:
            raise SparqlUnsupported("GROUP BY/HAVING without aggregates in SELECT")
        numeric_aliases: set[str] = set()
        if q.select_exprs:
            # (expr AS ?alias) projections: computed over the aggregate
            # output when aggregates exist, else over the group bindings
            ebound = (
                set(q.group_by) | set(q.aggregates) if q.aggregates else bound
            )
            for alias, bexpr in q.select_exprs.items():
                c = self._compile_filter(bexpr, ebound)
                sn = _stringify_numeric(bexpr, c)
                if sn is not None:
                    # the alias is string-typed in acc by the time the
                    # ORDER BY numeric-source snapshot runs — record its
                    # numeric origin here or DESC(?alias) sorts lexically
                    # (review finding r8, second pass)
                    numeric_aliases.add(alias)
                acc = acc.withColumn(alias, sn if sn is not None else c)
                bound = bound | {alias}
        if q.aggregates:
            pass  # out_vars already set above
        elif q.select == ["*"]:
            out_vars = [v for v in q.var_order if v in bound]
        else:
            missing = [v for v in q.select if v not in bound]
            if missing:
                raise ValueError(f"SELECT variable(s) not bound by WHERE: {missing}")
            out_vars = q.select
        # remember which columns were NUMERIC before the stringify-all cast:
        # ORDER BY must sort those numerically ('9' > '10' lexically would
        # return the wrong group under LIMIT — review finding r8). The sort
        # key casts back to double; the string round-trip of a long/double
        # is value-preserving, and the sort must run LAST anyway (Spark's
        # dropDuplicates does not preserve an earlier order).
        from pyspark.sql.types import NumericType

        numeric_src = (
            {
                f.name
                for f in acc.schema.fields
                if isinstance(f.dataType, NumericType)
            }
            | numeric_aliases
            | self._numeric_bind_aliases
        )
        # ORDER BY may reference NON-projected variables (legal, common
        # SPARQL: the spec orders the solution sequence BEFORE
        # projection — review r14); carry such sort keys through the
        # projection and drop them after the sort. DISTINCT + a
        # non-projected sort key stays a loud error: the duplicate drop
        # happens after projection, where the key is gone, and which
        # surviving row's key orders the group is undefined.
        sort_extras: list[str] = []
        if q.order_by:
            for var, _asc in q.order_by:
                if var not in out_vars:
                    if var not in bound:
                        raise ValueError(
                            f"ORDER BY variable ?{var} is not bound"
                        )
                    if q.distinct:
                        raise ValueError(
                            f"ORDER BY variable ?{var} not in SELECT "
                            "DISTINCT — project it or drop DISTINCT"
                        )
                    sort_extras.append(var)
        out = acc.select(
            *[F.col(v).cast("string").alias(v) for v in out_vars],
            *[F.col(v).cast("string").alias(v) for v in sort_extras],
        )
        if q.distinct:
            out = out.dropDuplicates()
        if q.order_by:
            exprs = []
            for var, asc in q.order_by:
                key = (
                    F.col(var).cast("double") if var in numeric_src else F.col(var)
                )
                exprs.append(key.asc() if asc else key.desc())
            out = out.orderBy(*exprs)
        if q.offset:
            out = out.offset(int(q.offset))
        if q.limit is not None:
            out = out.limit(int(q.limit))
        if sort_extras:
            # LIMIT/OFFSET already applied on the ordered frame; dropping
            # the carried keys afterwards cannot reorder rows
            out = out.select(*out_vars)
        if want_nullable:
            # which projected vars may carry null bindings out of this
            # (sub)query: group-level unbound vars; non-COUNT aggregates
            # whose target may be null OR that run as a GLOBAL aggregate
            # (no GROUP BY: an empty solution sequence yields one null
            # row; grouped aggregates only exist for non-empty groups) OR
            # that numerically coerce (SUM/AVG try_cast non-numeric
            # bindings to null — a group whose bindings are ALL
            # non-numeric aggregates to null even over a non-null target);
            # and expression aliases whose expression can be null (see
            # _expr_may_be_null — precision keeps later joins hash-based).
            nullable_out = set(out_vars) & gnullable
            for alias, (fn, target, _d, _s) in q.aggregates.items():
                if fn == "count":
                    continue
                if target in gnullable or not q.group_by or fn in ("sum", "avg"):
                    nullable_out.add(alias)
            expr_env = gnullable | nullable_out
            for alias, bexpr in q.select_exprs.items():
                if alias in out_vars and self._expr_may_be_null(bexpr, expr_env):
                    nullable_out.add(alias)
            return out, nullable_out
        return out

    def _describe(self, q: Query, scope: _Scope) -> DataFrame:
        """Outgoing triples of every described resource: resources (bound
        variables and/or literal IRIs) unioned, deduplicated, broadcast,
        and semi-joined against the scope's triples."""
        vars_ = [s for s in q.select if not s.startswith("<")]
        iris = [s[1:-1] for s in q.select if s.startswith("<")]
        frames = []
        if vars_:
            acc, bound, _nullable = self._compile_group(q.group, scope)
            if acc is None:
                raise SparqlUnsupported("DESCRIBE ?var with empty WHERE group")
            for v in vars_:
                if v not in bound:
                    raise ValueError(f"DESCRIBE variable ?{v} not bound by WHERE")
                frames.append(acc.select(F.col(v).alias("__resource")))
        if iris:
            frames.append(local_frame(self.spark, ["__resource"], [(i,) for i in iris]))
        res = frames[0]
        for f in frames[1:]:
            res = res.unionByName(f)
        triples = local_frame(
            self.spark,
            ["subject", "predicate", "object"],
            [q[1:] for q in self._index(scope).quads],
        )
        return triples.join(
            F.broadcast(res.dropDuplicates()),
            triples["subject"] == F.col("__resource"),
            "left_semi",
        )

    def _construct(self, q: Query, acc: DataFrame, bound: set[str]) -> DataFrame:
        """Instantiate the CONSTRUCT template once per solution: one
        projection per template triple over the (modifier-applied) solution
        frame, unioned and deduplicated (RDF graphs are sets). Solutions
        where a template variable is unbound (OPTIONAL) skip that triple,
        per spec."""
        if q.order_by:
            acc = acc.orderBy(*[F.col(v).asc() if asc else F.col(v).desc()
                                for v, asc in q.order_by])
        if q.offset:
            acc = acc.offset(int(q.offset))
        if q.limit is not None:
            acc = acc.limit(int(q.limit))

        def col_of(term: Term):
            if term.kind == "var":
                if term.value not in bound:
                    raise ValueError(
                        f"CONSTRUCT template variable ?{term.value} not bound by WHERE"
                    )
                return F.col(term.value)
            return F.lit(term.value)

        frames = []
        for pat in q.template:
            step = pat.step
            if step.is_var and step.predicate not in bound:
                raise ValueError(
                    f"CONSTRUCT template variable ?{step.predicate} not bound by WHERE"
                )
            p_col = F.col(step.predicate) if step.is_var else F.lit(step.predicate)
            frames.append(
                acc.select(
                    col_of(pat.subject).cast("string").alias("subject"),
                    p_col.cast("string").alias("predicate"),
                    col_of(pat.obj).cast("string").alias("object"),
                ).filter(
                    F.col("subject").isNotNull()
                    & F.col("predicate").isNotNull()
                    & F.col("object").isNotNull()
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.dropDuplicates()

    def _apply_aggregates(self, q: Query, acc: DataFrame, bound: set[str]) -> DataFrame:
        """``(AGG(?v) AS ?alias)`` + ``GROUP BY``: one hash aggregate.

        SUM/AVG coerce the lexical values numerically (try_cast double —
        non-numeric bindings become nulls, which Spark's aggregates skip,
        matching SPARQL's error-dropping semantics); MIN/MAX compare
        lexically (the engine's bindings are strings by contract);
        COUNT(?v) counts non-null bindings, COUNT(*) counts rows."""
        for v in q.group_by:
            if v not in bound:
                raise ValueError(f"GROUP BY variable ?{v} not bound by WHERE")
        for name in q.select:
            if (
                name not in q.aggregates
                and name not in q.group_by
                and name not in q.select_exprs
            ):
                raise ValueError(
                    f"SELECT ?{name} must be aggregated or in GROUP BY"
                )
        aggs = []
        for alias, (fn, target, distinct, sep) in q.aggregates.items():
            if target != "*" and target not in bound:
                raise ValueError(f"aggregate over unbound variable ?{target}")
            if fn == "count":
                if target == "*":
                    expr = F.count(F.lit(1))
                elif distinct:
                    expr = F.count_distinct(F.col(target))
                else:
                    expr = F.count(F.col(target))
            elif fn == "sample":
                # SAMPLE is any-value per spec; MIN makes it deterministic
                expr = F.min(F.col(target))
            elif fn == "group_concat":
                # sorted for determinism (spec leaves the order undefined)
                collected = (
                    F.collect_set(F.col(target)) if distinct else F.collect_list(F.col(target))
                )
                expr = F.array_join(F.array_sort(collected), sep)
            else:
                col = F.col(target)
                if fn in ("sum", "avg"):
                    col = col.try_cast("double")
                if distinct and fn == "sum":
                    expr = F.sum_distinct(col)
                elif distinct and fn == "avg":
                    # AVG(DISTINCT) over the distinct value set
                    expr = F.sum_distinct(col) / F.count_distinct(col)
                else:
                    # DISTINCT inside MIN/MAX is a semantic no-op
                    expr = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max}[fn](col)
            aggs.append(expr.alias(alias))
        if q.group_by:
            return acc.groupBy(*[F.col(v) for v in q.group_by]).agg(*aggs)
        return acc.agg(*aggs)

    @staticmethod
    def _null_compat_join(
        acc: DataFrame, other: DataFrame, shared: list[str], *, how: str
    ) -> DataFrame:
        """Join under SPARQL compatibility semantics: two solutions are
        compatible on a shared variable when either side is UNBOUND (null)
        or the values are equal. A plain equi-join treats null as
        incompatible — a row whose ?x the first OPTIONAL left unbound
        could then never be filled by a second OPTIONAL. For 'inner' and
        'left' the shared columns merge via coalesce; for 'left_anti'
        (MINUS) the spec additionally requires the solutions' domains to
        OVERLAP (at least one shared var bound on BOTH sides), else nothing
        is removed; 'left_semi'/'anti_exists' implement (NOT) EXISTS under
        compatibility without MINUS's overlap rule."""
        left = acc.alias("__l")
        right = other.alias("__r")
        compat = F.lit(True)
        overlap = F.lit(False)
        for v in shared:
            lc, rc = F.col(f"__l.{v}"), F.col(f"__r.{v}")
            compat = compat & (lc.isNull() | rc.isNull() | (lc == rc))
            overlap = overlap | (lc.isNotNull() & rc.isNotNull())
        if how == "left_anti":
            return left.join(
                F.broadcast(right), compat & overlap, "left_anti"
            ).select(*[F.col(f"__l.{c}").alias(c) for c in acc.columns])
        if how in ("left_semi", "anti_exists"):
            spark_how = "left_semi" if how == "left_semi" else "left_anti"
            return left.join(F.broadcast(right), compat, spark_how).select(
                *[F.col(f"__l.{c}").alias(c) for c in acc.columns]
            )
        joined = left.join(F.broadcast(right), compat, "left" if how == "left" else "inner")
        cols = [
            (
                F.coalesce(F.col(f"__l.{c}"), F.col(f"__r.{c}")).alias(c)
                if c in shared
                else F.col(f"__l.{c}").alias(c)
            )
            for c in acc.columns
        ] + [F.col(f"__r.{c}").alias(c) for c in other.columns if c not in acc.columns]
        return joined.select(*cols)

    def _compile_group(
        self, group: Group, scope: _Scope
    ) -> tuple[DataFrame | None, set[str], set[str]]:
        """Returns ``(df, bound_vars, nullable_vars)``. ``nullable_vars``
        tracks every variable a sub-pattern may leave UNBOUND (OPTIONAL-only
        vars, UNION branch gaps, VALUES UNDEF, subquery-projected nulls) —
        on WHICHEVER side of a later join it appears — so joins switch to
        SPARQL compatibility semantics exactly when a null could be
        mistaken for a non-match."""
        acc: DataFrame | None = None
        bound: set[str] = set()
        nullable: set[str] = set()  # vars an OPTIONAL/UNDEF may leave unbound

        def merge_inner(df: DataFrame, dvars: set[str], dnullable: set[str]):
            # inner join of two solution sequences, compatibility-aware on
            # whichever side may carry nulls in a shared variable
            nonlocal acc, bound, nullable
            if acc is None:
                acc, bound = df, set(dvars)
            else:
                shared = sorted(bound & dvars)
                if shared and (set(shared) & (nullable | dnullable)):
                    acc = self._null_compat_join(acc, df, shared, how="inner")
                    bound |= dvars
                else:
                    acc, bound = self._join(acc, bound, df)
            nullable |= dnullable

        if group.triples:
            names, rows = self._match_triples(group.triples, scope)
            acc, bound = local_frame(self.spark, names, rows), set(names)
        for subq in group.subqueries:
            # a subquery is its own solution sequence: compile in full
            # (aggregates/ORDER/LIMIT included), then join on whatever
            # projected variables the outer bindings share
            sdf, snullable = self._compile_query(subq, scope, want_nullable=True)
            merge_inner(sdf, set(sdf.columns), snullable)
        for gterm, ggroup in group.graphs:
            gscope = self._graph_scope(gterm)
            gdf, gvars, gnullable = self._compile_group(ggroup, gscope)
            if gdf is None:
                # empty inner group: the spec evaluates {} to the unit
                # solution — GRAPH ?g {} yields one row per named graph
                # with ?g bound (review finding r8: silently skipping the
                # clause left ?g unbound and failed the SELECT instead)
                if gterm.kind == "var":
                    gdf = local_frame(
                        self.spark,
                        [gterm.value],
                        [(g,) for g in self._index(gscope).graphs],
                    )
                    gvars, gnullable = {gterm.value}, set()
                else:
                    # GRAPH <iri> {} is the unit solution when the graph
                    # exists: an existence gate with nothing to bind
                    continue
            merge_inner(gdf, gvars, gnullable)
        for alternatives in group.unions:
            udf, uvars, unullable = self._compile_union(alternatives, scope)
            merge_inner(udf, uvars, unullable)
        # OPTIONAL and MINUS apply in TEXTUAL order (left-to-right algebra):
        # a MINUS written before an OPTIONAL must see only the bindings
        # that exist at that point — compiling all optionals first let an
        # optional ?v leak into the MINUS compatibility domain and keep
        # rows the spec removes (review finding r8)
        for mod_kind, sub in group.opt_minus_order:
            if mod_kind == "optional":
                odf, ovars, onullable = self._compile_group(sub, scope)
                if odf is None:
                    continue
                if acc is None:
                    acc, bound, nullable = odf, ovars, nullable | onullable
                    continue
                shared = sorted(bound & ovars)
                if shared and (set(shared) & (nullable | onullable)):
                    # a shared var may be unbound on EITHER side: equi-join
                    # would treat null as a non-match; use compatibility join
                    acc = self._null_compat_join(acc, odf, shared, how="left")
                elif shared:
                    acc = acc.join(F.broadcast(odf), on=shared, how="left")
                else:
                    # no shared variables: still a LEFT join (on TRUE), so an
                    # empty optional group null-extends instead of wiping the
                    # outer rows like a crossJoin would
                    acc = acc.join(F.broadcast(odf), on=F.lit(True), how="left")
                nullable |= (ovars - bound) | onullable  # may stay unbound
                bound |= ovars
            else:
                mdf, mvars, mnullable = self._compile_group(sub, scope)
                if mdf is None or acc is None:
                    continue
                shared = sorted(bound & mvars)
                if not shared:
                    # SPARQL MINUS with disjoint domains removes nothing
                    continue
                if set(shared) & (nullable | mnullable):
                    acc = self._null_compat_join(
                        acc,
                        mdf.select(*shared).dropDuplicates(),
                        shared,
                        how="left_anti",
                    )
                else:
                    acc = acc.join(
                        F.broadcast(mdf.select(*shared).dropDuplicates()),
                        on=shared,
                        how="left_anti",
                    )
        for vars_, rows in group.values:
            acc, bound = self._apply_values(acc, bound, vars_, rows)
            # a var with an UNDEF row may surface as null in the joined
            # result (fresh vars) — later joins must treat it as unbound
            nullable |= {
                v
                for i, v in enumerate(vars_)
                if any(r[i] is None for r in rows)
            }
        for var, bexpr in group.binds:
            if acc is None:
                # BIND with no preceding patterns: a one-row unit frame
                acc = local_frame(self.spark, [], [()])
            if var in bound:
                raise SparqlUnsupported(f"BIND to already-bound variable ?{var}")
            c = self._compile_filter(bexpr, bound)
            sn = _stringify_numeric(bexpr, c)
            if sn is not None:
                # remember this alias carries a NUMERIC value: the bind is
                # stringified for the uniform graph schema, and without
                # the record an ORDER BY DESC(?alias) would sort the
                # strings lexically ('9' > '10') — the same r8 defect the
                # SELECT-expression aliases already guard against
                # (review r14 extended it to BINDs)
                self._numeric_bind_aliases.add(var)
            acc = acc.withColumn(var, sn if sn is not None else c.cast("string"))
            bound = bound | {var}
            # a BIND value can be null (failed try_cast, division, an
            # unbound input var): later joins sharing the alias must then
            # use compatibility semantics. Marked only when the expression
            # can actually be null — blanket marking would downgrade
            # provably-equi joins to nested-loop compat joins.
            if self._expr_may_be_null(bexpr, nullable):
                nullable.add(var)
        for fexpr in group.filters:
            if acc is None:
                raise SparqlUnsupported("FILTER without preceding patterns")
            acc = acc.filter(self._compile_filter(fexpr, bound))
        for positive, eg in group.exists_filters:
            if acc is None:
                raise SparqlUnsupported("FILTER EXISTS without preceding patterns")
            edf, evars, enullable = self._compile_group(eg, scope)
            if edf is None:
                # the spec evaluates {} to the unit solution: EXISTS {} is
                # always true (keep everything), NOT EXISTS {} always false
                if not positive:
                    acc = acc.limit(0)
                continue
            shared = sorted(bound & evars)
            if shared and (set(shared) & (nullable | enullable)):
                # a shared var may be unbound on either side: existence is
                # tested under compatibility, not equality
                acc = self._null_compat_join(
                    acc,
                    edf.select(*shared).dropDuplicates(),
                    shared,
                    how="left_semi" if positive else "anti_exists",
                )
            elif shared:
                # correlated existence test == semi/anti join on the
                # variables the inner group shares with the outer bindings
                acc = acc.join(
                    F.broadcast(edf.select(*shared).dropDuplicates()),
                    on=shared,
                    how="left_semi" if positive else "left_anti",
                )
            else:
                # uncorrelated: keep (EXISTS) / drop (NOT EXISTS) every row
                # iff the inner pattern has any match at all
                probe = F.broadcast(edf.limit(1).select(F.lit(1).alias("__e")))
                acc = acc.join(
                    probe,
                    on=F.lit(True),
                    how="left_semi" if positive else "left_anti",
                )
        return acc, bound, nullable

    def _apply_values(
        self,
        acc: DataFrame | None,
        bound: set[str],
        vars_: list[str],
        rows: list[list[str | None]],
    ) -> tuple[DataFrame, set[str]]:
        """Join an inline VALUES table into the group (SPARQL 1.1 §10.2).

        The table is tiny by construction, so it is always broadcast. Shared
        variables join under full compatibility semantics: UNDEF on the
        VALUES side is a wildcard, and an UNBOUND (null) binding on the
        accumulator side — e.g. left there by an earlier OPTIONAL — matches
        any VALUES row and is FILLED with its value (coalesce), per SPARQL
        §10.2 solution-mapping compatibility. Fresh variables attach their
        column directly, with UNDEF becoming an unbound (null) binding."""
        vdf = local_frame(self.spark, vars_, [tuple(r) for r in rows])
        if acc is None:
            return vdf, set(vars_)
        shared = sorted(bound & set(vars_))
        if not shared:
            return acc.crossJoin(F.broadcast(vdf)), bound | set(vars_)
        renamed = vdf
        for v in shared:
            renamed = renamed.withColumnRenamed(v, f"__val_{v}")
        cond = F.lit(True)
        for v in shared:
            cond = cond & (
                F.col(f"__val_{v}").isNull()
                | F.col(v).isNull()
                | (F.col(f"__val_{v}") == F.col(v))
            )
        out = acc.join(F.broadcast(renamed), on=cond, how="inner")
        for v in shared:
            # acc-side unbound + VALUES-bound: the merged solution carries
            # the VALUES binding
            out = out.withColumn(v, F.coalesce(F.col(v), F.col(f"__val_{v}")))
        out = out.drop(*[f"__val_{v}" for v in shared])
        return out, bound | set(vars_)

    def _compile_union(
        self, alternatives: list[Group], scope: _Scope
    ) -> tuple[DataFrame, set[str], set[str]]:
        frames: list[tuple[DataFrame, set[str], set[str]]] = []
        for alt in alternatives:
            df, vars_, branch_nullable = self._compile_group(alt, scope)
            if df is None:
                raise SparqlUnsupported("empty UNION branch")
            frames.append((df, vars_, branch_nullable))
        all_vars = sorted(set().union(*[v for _, v, _ in frames]))
        aligned = []
        nullable: set[str] = set()
        for df, vars_, branch_nullable in frames:
            missing = [v for v in all_vars if v not in vars_]
            # a var absent from one branch is null in that branch's rows
            nullable |= set(missing) | branch_nullable
            for v in missing:
                df = df.withColumn(v, F.lit(None).cast("string"))
            aligned.append(df.select(*all_vars))
        out = aligned[0]
        for df in aligned[1:]:
            out = out.unionByName(df)
        return out, set(all_vars), nullable

    def _expr_may_be_null(self, expr, nullable_vars: set[str]) -> bool:
        """Conservative nullability of a BIND/SELECT expression: True
        unless it provably yields non-null for every solution. Precision
        matters both ways — missing a nullable alias drops solutions in a
        later equi-join (wrong results); over-marking downgrades that join
        to a nested-loop compatibility join (the 100 TB perf cliff). The
        fallible constructs mirror _compile_filter: try_cast in arith /
        numeric cmp / substr / abs / ceil / floor / round, and division
        (null on zero). Unknown shapes default to True."""
        if isinstance(expr, Term):
            return expr.kind == "var" and expr.value in nullable_vars
        if not isinstance(expr, tuple):
            return True
        tag = expr[0]

        def _numeric_safe(t) -> bool:
            # evaluates to a non-null number under try_cast("double")?
            if isinstance(t, Term):
                return _is_numeric_literal(t)
            return (
                isinstance(t, tuple)
                and t[0] == "arith"
                and not self._expr_may_be_null(t, nullable_vars)
            )

        if tag == "arith":
            if expr[1] == "/":
                return True  # division by zero is null
            return not (_numeric_safe(expr[2]) and _numeric_safe(expr[3]))
        if tag == "cmp":
            lhs, rhs = expr[2], expr[3]
            if _is_numeric_cmp(lhs, rhs):
                # both sides go through try_cast("double") — null unless
                # both provably numeric
                return not (_numeric_safe(lhs) and _numeric_safe(rhs))
            return self._expr_may_be_null(lhs, nullable_vars) or self._expr_may_be_null(
                rhs, nullable_vars
            )
        if tag in ("and", "or", "not"):
            return any(self._expr_may_be_null(a, nullable_vars) for a in expr[1:])
        if tag == "in":
            return self._expr_may_be_null(expr[1], nullable_vars) or any(
                self._expr_may_be_null(e, nullable_vars) for e in expr[2]
            )
        if tag == "call":
            name, args = expr[1], expr[2]
            if name == "bound":
                return False  # isNotNull() is never null
            if name in ("substr", "abs", "ceil", "floor", "round"):
                return True  # try_cast on the argument
            if name == "coalesce":
                return all(self._expr_may_be_null(a, nullable_vars) for a in args)
            # string/bool builtins: null only propagates from arguments
            return any(self._expr_may_be_null(a, nullable_vars) for a in args)
        return True

    def _compile_filter(self, expr: FilterExpr, bound: set[str]):
        if isinstance(expr, Term):
            if expr.kind == "var":
                if expr.value not in bound:
                    raise ValueError(f"FILTER references unbound variable ?{expr.value}")
                return F.col(expr.value)
            return F.lit(expr.value)
        tag = expr[0]
        if tag == "and":
            return self._compile_filter(expr[1], bound) & self._compile_filter(expr[2], bound)
        if tag == "or":
            return self._compile_filter(expr[1], bound) | self._compile_filter(expr[2], bound)
        if tag == "not":
            return ~self._compile_filter(expr[1], bound)
        if tag == "in":
            _, subject, elems, negated = expr
            c = self._compile_filter(subject, bound)
            if not elems:
                return F.lit(bool(negated))  # IN () is false, NOT IN () true
            cond = F.lit(False)
            for e in elems:
                ec = self._compile_filter(e, bound)
                # same numeric coercion as binary '=' (review finding r8:
                # ?x = 1 coerced but ?x IN (1) compared lexically, so a
                # lexical '1.0' passed one and failed the other)
                if _is_numeric_cmp(subject, e):
                    cond = cond | (c.try_cast("double") == ec.try_cast("double"))
                else:
                    cond = cond | (c == ec)
            return ~cond if negated else cond
        if tag == "arith":
            op, a, b = expr[1], expr[2], expr[3]
            ac = self._compile_filter(a, bound).try_cast("double")
            bc = self._compile_filter(b, bound).try_cast("double")
            return {"+": ac + bc, "-": ac - bc, "*": ac * bc, "/": ac / bc}[op]
        if tag == "cmp":
            op, lhs, rhs = expr[1], expr[2], expr[3]
            numeric = _is_numeric_cmp(lhs, rhs)
            lc = self._compile_filter(lhs, bound)
            rc = self._compile_filter(rhs, bound)
            if numeric:
                lc = lc.try_cast("double")
                rc = rc.try_cast("double")
            return {
                "=": lc == rc,
                "!=": lc != rc,
                "<": lc < rc,
                ">": lc > rc,
                "<=": lc <= rc,
                ">=": lc >= rc,
            }[op]
        if tag == "call":
            name, args = expr[1], expr[2]
            cargs = [self._compile_filter(a, bound) for a in args]
            if name == "regex":
                if not (isinstance(args[1], Term) and args[1].kind == "literal"):
                    raise SparqlUnsupported("regex() pattern must be a string literal")
                return cargs[0].rlike(
                    _apply_regex_flags(args[1].value, args, 2, "regex")
                )
            if name == "strstarts":
                return cargs[0].startswith(cargs[1])
            if name == "strends":
                return cargs[0].endswith(cargs[1])
            if name == "substr":
                # SPARQL SUBSTR is 1-based; len optional (to end of string)
                start = cargs[1].try_cast("int")
                length = (
                    cargs[2].try_cast("int")
                    if len(cargs) > 2
                    else F.length(cargs[0].cast("string"))
                )
                return cargs[0].cast("string").substr(start, length)
            if name in ("strbefore", "strafter"):
                if not (isinstance(args[1], Term) and args[1].kind == "literal"):
                    raise SparqlUnsupported(f"{name}() separator must be a literal")
                sep = args[1].value
                s = cargs[0].cast("string")
                pos = F.instr(s, sep)
                if name == "strbefore":
                    hit = s.substr(F.lit(1), pos - 1)
                else:
                    hit = s.substr(pos + len(sep), F.length(s))
                # NULL (unbound) input stays NULL: the otherwise('')
                # branch would convert the spec's type error into an
                # empty-string VALUE — FILTER(STRBEFORE(?unbound, "x") =
                # "") kept rows the spec drops (review r14). A present
                # string with no separator hit still yields '' (spec).
                return F.when(s.isNull(), F.lit(None).cast("string")).when(
                    pos > 0, hit
                ).otherwise(F.lit(""))
            if name == "abs":
                return F.abs(cargs[0].try_cast("double"))
            if name == "ceil":
                return F.ceil(cargs[0].try_cast("double")).cast("double")
            if name == "floor":
                return F.floor(cargs[0].try_cast("double")).cast("double")
            if name == "round":
                return F.round(cargs[0].try_cast("double"), 0)
            if name == "coalesce":
                return F.coalesce(*cargs)
            if name == "if":
                if len(cargs) != 3:
                    raise ValueError("IF() needs exactly three arguments")
                return F.when(cargs[0], cargs[1]).otherwise(cargs[2])
            if name == "contains":
                return cargs[0].contains(cargs[1])
            if name == "bound":
                return cargs[0].isNotNull()
            if name == "str":
                return cargs[0].cast("string")
            if name == "lcase":
                return F.lower(cargs[0])
            if name == "ucase":
                return F.upper(cargs[0])
            if name == "concat":
                return F.concat(*[c.cast("string") for c in cargs])
            if name == "strlen":
                return F.length(cargs[0])
            if name == "replace":
                if not (isinstance(args[1], Term) and args[1].kind == "literal"):
                    raise SparqlUnsupported("replace() pattern must be a string literal")
                if not (isinstance(args[2], Term) and args[2].kind == "literal"):
                    raise SparqlUnsupported("replace() replacement must be a string literal")
                return F.regexp_replace(
                    cargs[0],
                    _apply_regex_flags(args[1].value, args, 3, "replace"),
                    args[2].value,
                )
        raise SparqlUnsupported(f"unsupported FILTER expression: {expr!r}")

    @staticmethod
    def _selectivity(pat: Pattern) -> tuple:
        const = sum(1 for t in (pat.subject, pat.obj) if t.kind != "var")
        literal_obj = 1 if pat.obj.kind == "literal" else 0
        closure_pat = 1 if pat.step.modifier else 0
        var_pred = (
            1
            if (isinstance(pat.step, PathStep) and pat.step.is_var)
            or isinstance(pat.step, NegatedStep)
            else 0
        )
        # more constants first; literal objects first among equals; closure
        # steps and unfiltered variable-predicate scans last among equals
        return (-const, -literal_obj, closure_pat + var_pred)

    def _order_patterns(self, patterns: list[Pattern]) -> list[Pattern]:
        remaining = sorted(patterns, key=self._selectivity)
        ordered: list[Pattern] = []
        bound: set[str] = set()
        while remaining:
            pick = None
            for pat in remaining:
                if not bound or (self._pattern_vars(pat) & bound):
                    pick = pat
                    break
            if pick is None:  # disjoint component: cartesian, rare but legal
                pick = remaining[0]
            remaining.remove(pick)
            ordered.append(pick)
            bound |= self._pattern_vars(pick)
        return ordered

    @staticmethod
    def _pattern_vars(pat: Pattern) -> set[str]:
        out = {t.value for t in (pat.subject, pat.obj) if t.kind == "var"}
        if isinstance(pat.step, PathStep) and pat.step.is_var:
            out.add(pat.step.predicate)
        return out

    def _match_triples(self, patterns: list[Pattern], scope: _Scope) -> tuple[list, list]:
        """A group's triple block against the scope's index: starting from
        the unit solution (no variables, one row), each pattern in
        selectivity order hash-joins its bindings in. A fully ground
        pattern binds nothing, so it keeps or empties the solutions."""
        index = self._index(scope)
        names: list[str] = []
        rows: list[tuple] = [()]
        for pat in self._order_patterns(patterns):
            if pat.step.modifier:
                names, rows = self._match_path(pat, names, rows, scope)
            else:
                names, rows = _hash_join(names, rows, *self._scan(pat, scope, index))
        return names, rows

    @staticmethod
    def _scan(pat: Pattern, scope: _Scope, index: _TripleIndex) -> tuple[list, list]:
        """Distinct bindings of one non-path pattern — of each alternation
        leg, unioned. Slots follow quad order (graph, subject, predicate,
        object): ``^p`` swaps the subject and object slots, a constant
        must equal its slot, and a variable repeated across slots (``?x
        ?p ?x``, or the ``GRAPH ?g`` variable reused inside) must bind one
        value."""
        legs = pat.step.steps if isinstance(pat.step, AltStep) else (pat.step,)
        g = Term("var", scope.gvar) if scope.gvar else None

        def pvar(leg):
            return Term("var", leg.predicate) if leg.is_var else None

        order = (g, pvar(legs[0]), pat.subject, pat.obj)
        names = list(dict.fromkeys(t.value for t in order if t and t.kind == "var"))
        out: dict[tuple, None] = {}
        for leg in legs:
            s_t, o_t = (pat.obj, pat.subject) if leg.inverse else (pat.subject, pat.obj)
            slots = (g, s_t, pvar(leg), o_t)
            consts = [(i, t.value) for i, t in enumerate(slots) if t and t.kind != "var"]
            first: dict[str, int] = {}
            same: list[tuple[int, int]] = []
            for i, t in enumerate(slots):
                if t and t.kind == "var":
                    if t.value in first:
                        same.append((first[t.value], i))
                    else:
                        first[t.value] = i
            take = [first[n] for n in names]
            quads = index.candidates(leg)
            for q in index.expand(quads) if scope.gvar else quads:
                if all(q[i] == v for i, v in consts) and all(q[a] == q[b] for a, b in same):
                    out[tuple(q[i] for i in take)] = None
        return names, list(out)

    def _match_path(
        self, pat: Pattern, names: list, rows: list, scope: _Scope
    ) -> tuple[list, list]:
        """``x p* y`` / ``p+`` / ``p?`` — also inverse, also over an
        alternation ``(a|b)*`` — joined into the solutions.

        Inside ``GRAPH ?g``, path patterns match over the union scope and
        do not constrain or bind the graph variable (documented
        simplification; the ontology is shared across graphs anyway).

        - strict pairs come from the scope's cached closure (``*``/``+``)
          or single hops (``?``);
        - the zero-length case (``*``, ``?``) is handled structurally:
          a constant end pins the other end to itself, a bound end copies
          its value, and only a path between two unbound variables (or
          one variable at both ends) enumerates the scope's terms.
        """
        step = pat.step
        legs = step.steps if isinstance(step, AltStep) else (step,)
        index = self._index(_Scope(site=scope.site))
        pairs, forward, backward = index.path(
            tuple((leg.predicate, leg.inverse) for leg in legs), step.modifier != "?"
        )
        zero = step.modifier in ("*", "?")
        s, o = pat.subject, pat.obj
        if s.kind != "var" and o.kind != "var":
            hit = (zero and s.value == o.value) or (s.value, o.value) in pairs
            return names, rows if hit else []
        if s.kind != "var" or o.kind != "var":
            if s.kind != "var":  # the objects a constant subject reaches
                var, const, ends = o.value, s.value, forward
            else:  # the subjects that reach a constant object
                var, const, ends = s.value, o.value, backward
            reach = dict.fromkeys([*ends.get(const, ()), *([const] if zero else [])])
            return _hash_join(names, rows, [var], [(v,) for v in reach])
        sv, ov = s.value, o.value
        if sv == ov:
            if not zero:
                return _hash_join(names, rows, [sv], [(a,) for a, b in pairs if a == b])
            if sv in names:  # every term reaches itself
                return names, rows
            return _hash_join(names, rows, [sv], [(t,) for t in index.terms()])
        if sv in names and ov in names:
            # both ends bound: the path filters the solutions
            i, j = names.index(sv), names.index(ov)
            return names, [
                r for r in rows if (zero and r[i] == r[j]) or (r[i], r[j]) in pairs
            ]
        if sv in names or ov in names:
            bound, new, ends = (sv, ov, forward) if sv in names else (ov, sv, backward)
            i = names.index(bound)
            out = []
            for r in rows:
                reach = ends.get(r[i], ())
                if zero:
                    reach = dict.fromkeys([*reach, r[i]])
                out.extend(r + (e,) for e in reach)
            return names + [new], out
        table = dict.fromkeys(sorted(pairs))
        if zero:
            table.update(dict.fromkeys((t, t) for t in index.terms()))
        return _hash_join(names, rows, [sv, ov], list(table))

    def _join(
        self, acc: DataFrame | None, bound: set[str], pdf: DataFrame
    ) -> tuple[DataFrame, set[str]]:
        new_vars = set(pdf.columns)
        if acc is None:
            return pdf, new_vars
        shared = sorted(bound & new_vars)
        if shared:
            acc = acc.join(F.broadcast(pdf), on=shared, how="inner")
        else:
            acc = acc.crossJoin(F.broadcast(pdf))
        return acc, bound | new_vars
