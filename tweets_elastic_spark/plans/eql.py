"""EQL (Event Query Language) front-end: event queries and ``sequence``
correlation over an event stream, the `_eql/search` surface ES layers over
event indices (reference scope: the engine's events table plays the role of
an ES event index; the reference repo itself stops at search DSL, so this is
part of the beyond-reference analytics mandate).

Supported subset
----------------
* simple event queries: ``<category> where <condition>`` — a filtered scan
  ordered by (timestamp, tiebreaker), ES's EQL hit order.
* sample queries: ``sample [by <field>[, ...]]`` followed by >= 2
  ``[ <category> where <condition> ] [by <field>[, ...]]`` stages —
  UN-ordered per-key correlation (ES 8.6 ``sample``): one event per
  stage joined on the global ``by`` key and/or PER-STAGE keys (each
  stage's own field, values equal across stages, compared as string
  renderings — the sequence convention), no chronology, no maxspan.
  Divergence (documented at the compile site): ES caps output at
  ``size`` samples and picks per-stage events heuristically; this
  engine emits every qualifying key with the smallest-id event per
  stage, keeping results hash-oracle-checkable. (Sample queries take
  no pipes/until/runs upstream either; the SEQUENCE kind supports
  all three — see below.)
* pipes ``head/tail/count/unique`` on BOTH query kinds: over hits for
  event queries, over sequence MATCHES in last-event hit order (ES
  orders sequence results by their final event's timestamp; ties break
  on the final event id).
* sequences::

      sequence [by <field>[, ...]] [with maxspan=<n><unit>]
        [ <category> where <condition> ] [by <field>[, ...]]
        [ <category> where <condition> ] [by <field>[, ...]]
        ...

  Join keys are the global ``by`` fields and/or PER-STAGE ``by`` fields
  (ES's cross-field sequence join: every stage must then carry
  the same number of fields, whose values must agree across stages;
  keys compare as string renderings, NULL key values drop the stage
  match). A sequence with neither refuses loudly — keyless correlation
  would serialize the whole stream through one task.

  ``<category>`` matches the event-category field (``any`` matches every
  event); conditions are boolean combinations — ``and`` / ``or`` /
  ``not`` / parentheses at ES EQL precedence — of
  ``field OP literal`` comparisons (``== != > >= < <=``),
  ``field [not] in (lit, ...)`` membership tests, the literals
  ``true`` / ``false``, and the condition functions ``startsWith`` /
  ``endsWith`` / ``stringContains`` / ``wildcard`` / ``cidrMatch``
  (boolean, multi-pattern ORs supported) and ``length`` (numeric,
  compared to a literal) — each with ES's ``~`` case-insensitive
  variant where folding makes sense. NULL fields follow SQL
  three-valued logic (never match, including through ``not`` — the
  semantics the DuckDB oracles evaluate). Unknown functions and bad
  arities refuse loudly. ``cidrMatch`` takes IPv4 and IPv6
  blocks — IPv6 compiles to group-wise 16-bit prefix compares over a
  pure-Catalyst '::'-expanding parse (malformed / dotted-quad-embedded
  / zoned addresses evaluate NULL and match nothing; an embedded-quad
  CIDR *literal* refuses at parse time).

Sequence semantics (deterministic single-slot automaton)
--------------------------------------------------------
Per join key, events are scanned in (timestamp, id) order through a state
machine holding ONE pending prefix per length. An event plays the DEEPEST
stage it can extend (its prefix's first event within ``maxspan``);
otherwise, if it matches stage 1, it starts/replaces the pending length-1
prefix. Completing a sequence emits it and consumes its events (the spent
prefix clears; shorter prefixes survive). This is ES's most-recent-wins
sequencer restricted to one in-flight prefix per length — a documented
divergence: ES's state machine can track several concurrent prefixes per
stage and so can emit overlapping matches; this engine never emits
overlapping sequences for a key. The upside is the semantics are exactly
replayable in ANSI SQL (a recursive CTE stepping the same automaton), so
sequence results stay hash-oracle-checkable.

Scale design
------------
The automaton is a single ``F.aggregate`` HOF over each key's time-sorted
event array: one shuffle (groupBy key), JVM-side evaluation, no Python in
the plan. Stage predicates are evaluated BEFORE the shuffle, so only events
matching some stage move, and the per-stage boolean array (L bits) plus
(ts, id) is all that shuffles — not the event payload. State per key is
O(L · sequence length) and emits are bounded by matches. The per-key memory
bound is the collected per-key relevant-event list; keys are independent so
1000 executors scale by key count. A hot key's list is the same linear
scan ES's sequencer performs, minus the payloads.
"""

from __future__ import annotations

import ipaddress
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.ip import cidr_match
from tweets_elastic_spark.functions.time_units import SECONDS, read_compact

__all__ = ["parse_eql", "eql_search"]

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_.]*$")
_CMP_OPS = ("==", "!=", ">=", "<=", ">", "<")

# supported EQL condition functions, canonical lowercase. Boolean
# funcs stand alone in a condition; numeric funcs must be compared to a
# literal (`length(f) > 5`). The `~` suffix selects ES's case-insensitive
# variant for the string-comparing funcs; `~` on length/cidrMatch refuses
# (no case to fold).
_BOOL_FUNCS = {"startswith", "endswith", "stringcontains", "wildcard",
               "cidrmatch"}
_NUM_FUNCS = {"length"}
_EQL_FUNCS = _BOOL_FUNCS | _NUM_FUNCS
_CIDR_RE = re.compile(
    r"^(25[0-5]|2[0-4]\d|1?\d?\d)\.(25[0-5]|2[0-4]\d|1?\d?\d)\."
    r"(25[0-5]|2[0-4]\d|1?\d?\d)\.(25[0-5]|2[0-4]\d|1?\d?\d)/(\d|[12]\d|3[0-2])$"
)
_OCTET_RE = r"(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])"


def _valid_cidr(lit: str) -> bool:
    """IPv4 'a.b.c.d/N', or IPv6 hex-group form. Dotted-quad
    embedding inside IPv6 refuses (the group-wise compiler has no octet
    path), as do zone indexes; host bits are fine (ES zeroes them)."""
    if _CIDR_RE.match(lit):
        return True
    if ":" not in lit or "." in lit or "%" in lit or "/" not in lit:
        return False

    try:
        net = ipaddress.ip_network(lit, strict=False)
    except ValueError:
        return False
    return net.version == 6


def _validate_func(call, src: str) -> None:
    name, args = call.name, call.args

    def need(cond: bool, what: str) -> None:
        if not cond:
            raise ValueError(f"EQL {name}() {what} in {src!r}")

    if call.insensitive:
        need(name not in ("length", "cidrmatch"),
             "has no case-insensitive (~) variant")
    if name in ("startswith", "endswith", "stringcontains"):
        need(len(args) == 2, "takes (field, string)")
        need(args[0][0] == "field", "needs a field first argument")
        need(args[1][0] == "lit" and isinstance(args[1][1], str),
             "needs a string literal second argument")
    elif name == "wildcard":
        need(len(args) >= 2, "takes (field, pattern, ...)")
        need(args[0][0] == "field", "needs a field first argument")
        for a in args[1:]:
            need(a[0] == "lit" and isinstance(a[1], str),
                 "patterns must be string literals")
    elif name == "cidrmatch":
        need(len(args) >= 2, "takes (field, cidr, ...)")
        need(args[0][0] == "field", "needs a field first argument")
        for a in args[1:]:
            need(a[0] == "lit" and isinstance(a[1], str)
                 and _valid_cidr(a[1]),
                 "CIDR blocks must be IPv4 'a.b.c.d/N' or IPv6 "
                 "'h:h::h/N' literals (IPv6 compiles to group-wise "
                 "16-bit prefix compares, no 128-bit ints needed; "
                 "dotted-quad-embedded IPv6 like '::ffff:1.2.3.4/N' "
                 "stays unsupported)")
    elif name == "length":
        need(len(args) == 1 and args[0][0] == "field", "takes (field)")


@dataclass
class Comparison:
    field: str
    op: str
    value: object  # str | float | int | bool


@dataclass
class InList:
    """``field in (lit, lit, ...)`` — compiles to ``Column.isin``."""
    field: str
    values: list


@dataclass
class NotOp:
    """``not <node>``. SQL three-valued logic applies: a NULL field never
    matches, even through ``not`` (``not (null == 1)`` is NULL → dropped)
    — the same semantics the DuckDB oracle evaluates, so parity holds by
    construction. Documented divergence from ES EQL, which treats missing
    fields as non-matching on BOTH a predicate and its negation only for
    some operators."""
    child: object


@dataclass
class BoolOp:
    """``and`` / ``or`` over 2+ child nodes (n-ary, flattened)."""
    op: str  # "and" | "or"
    children: list


@dataclass
class BoolLit:
    value: bool


@dataclass
class FuncCall:
    """A supported EQL condition function. ``name`` is the
    canonical lowercase name without the ``~`` suffix; ``insensitive``
    records the suffix (ES EQL's case-insensitive variant, e.g.
    ``startsWith~``). ``args`` holds ``("field", name)`` /
    ``("lit", value)`` pairs, validated per function at parse time."""
    name: str
    args: list
    insensitive: bool = False


@dataclass
class FuncCmp:
    """A numeric function compared to a literal: ``length(f) > 5``."""
    func: FuncCall
    op: str
    value: object


@dataclass
class StageFilter:
    category: str  # "any" or a category literal
    # top-level AND-joined condition nodes (Comparison | InList | NotOp |
    # BoolOp | BoolLit); a flat conjunction of comparisons stays a plain
    # [Comparison, ...] list
    conditions: list = field(default_factory=list)
    # per-stage join-key fields (`[ stage ] by f1, f2`): values
    # must be EQUAL across stages for events to correlate; None = the
    # stage relies on the sequence's global `by` alone
    by: list[str] | None = None


@dataclass
class EqlQuery:
    kind: str                      # "event" | "sequence" | "sample"
    stages: list[StageFilter]
    by: list[str] | None = None    # sequence join-key fields (composite ok)
    maxspan_s: float | None = None
    until: StageFilter | None = None  # terminates in-progress sequences
    pipes: list[tuple] = field(default_factory=list)  # head/tail/count/unique


def _parse_duration(tok: str) -> float:
    """An EQL duration (``2d``, ``500ms``) → seconds."""
    parsed = read_compact(tok)
    if parsed is None or parsed[1] not in SECONDS:
        raise ValueError(
            f"unsupported EQL maxspan {tok!r} (expected <int><unit> of a "
            "fixed width: ms, s, m, h, d, w)"
        )
    n, unit = parsed
    return float(n * SECONDS[unit])


def _parse_literal(tok: str):
    if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in "\"'":
        return tok[1:-1]
    if tok in ("true", "false"):
        return tok == "true"
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        raise ValueError(f"unsupported EQL literal {tok!r}") from None


def _quote_mask(text: str) -> str:
    """Copy of ``text`` with every quoted-region character replaced by
    ``\\x00`` (quotes included) — searching the mask finds operators /
    keywords only OUTSIDE string literals, while indexes still line up
    with the original text.

    Backslash escapes inside literals are rejected loudly: silently
    treating ``\\'`` as a terminator would end the masked region early and
    re-scan literal text as syntax (the silent-wrong-parse class this
    module bans)."""
    out = []
    in_q: str | None = None
    for c in text:
        if in_q:
            if c == "\\":
                raise ValueError(
                    "backslash escapes in EQL string literals are "
                    "unsupported (use the other quote style to embed "
                    "quotes)"
                )
            out.append("\x00")
            if c == in_q:
                in_q = None
        elif c in ("'", '"'):
            in_q = c
            out.append("\x00")
        else:
            out.append(c)
    if in_q:
        raise ValueError("unterminated string literal in EQL query")
    return "".join(out)


def _normalize_ws(text: str) -> str:
    """Collapse whitespace runs to single spaces and strip the ends —
    but only OUTSIDE string literals. ``msg == 'two  spaces'`` keeps its
    double space; a bare ``" ".join(text.split())`` would silently
    rewrite the compared value."""
    mask = _quote_mask(text)
    out: list[str] = []
    pending_space = False
    for ch, mc in zip(text, mask):
        if mc != "\x00" and ch.isspace():
            pending_space = True
            continue
        if pending_space and out:
            out.append(" ")
        pending_space = False
        out.append(ch)
    return "".join(out)


def _split_unquoted(text: str, sep: str) -> list[str]:
    """Split ``text`` on every occurrence of single-char ``sep`` found
    OUTSIDE string literals (positions located on the quote mask)."""
    mask = _quote_mask(text)
    parts, prev = [], 0
    for i, c in enumerate(mask):
        if c == sep:
            parts.append(text[prev:i])
            prev = i + 1
    parts.append(text[prev:])
    return parts


def _tokenize_condition(text: str) -> list[str]:
    """Lex a condition into tokens: quoted literals (kept verbatim,
    quotes included — located on the quote mask so ``==`` / ``and`` /
    ``(`` INSIDE a literal never split), parens, commas, comparison
    operators, and identifier/number/keyword words."""
    mask = _quote_mask(text)
    toks: list[str] = []
    i, n = 0, len(text)
    while i < n:
        if mask[i] == "\x00":  # quoted literal — maximal masked run
            j = i
            while j < n and mask[j] == "\x00":
                j += 1
            toks.append(text[i:j])
            i = j
            continue
        c = text[i]
        if c.isspace():
            i += 1
            continue
        if c in "(),":
            toks.append(c)
            i += 1
            continue
        if text[i:i + 2] in ("==", "!=", ">=", "<="):
            toks.append(text[i:i + 2])
            i += 2
            continue
        if c in "<>":
            toks.append(c)
            i += 1
            continue
        j = i
        while (j < n and mask[j] != "\x00" and not text[j].isspace()
               and text[j] not in "(),<>=!"):
            j += 1
        if j == i:
            raise ValueError(
                f"unsupported character {c!r} in EQL condition {text!r}"
            )
        toks.append(text[i:j])
        i = j
    return toks


class _CondParser:
    """Recursive descent over the tokenized condition. Grammar, loosest-binding
    first (ES EQL precedence: ``or`` < ``and`` < ``not`` < comparison)::

        expr     := and_expr ('or' and_expr)*
        and_expr := not_expr ('and' not_expr)*
        not_expr := 'not' not_expr | primary
        primary  := '(' expr ')' | 'true' | 'false'
                  | ident ('not')? 'in' '(' literal (',' literal)* ')'
                  | ident CMP_OP literal

    Functions (``startsWith(x)`` …) still refuse loudly at the primary —
    an identifier followed by ``(`` is not a supported comparison."""

    def __init__(self, toks: list[str], src: str):
        self.toks, self.i, self.src = toks, 0, src

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self) -> str:
        tok = self.peek()
        if tok is None:
            raise ValueError(
                f"unexpected end of EQL condition {self.src!r}"
            )
        self.i += 1
        return tok

    def parse(self):
        node = self.expr()
        if self.peek() is not None:
            raise ValueError(
                f"trailing tokens {self.toks[self.i:]!r} in EQL "
                f"condition {self.src!r}"
            )
        return node

    def expr(self):
        children = [self.and_expr()]
        while (p := self.peek()) is not None and p.lower() == "or":
            self.take()
            children.append(self.and_expr())
        return children[0] if len(children) == 1 else BoolOp("or", children)

    def and_expr(self):
        children = [self.not_expr()]
        while (p := self.peek()) is not None and p.lower() == "and":
            self.take()
            children.append(self.not_expr())
        return children[0] if len(children) == 1 else BoolOp("and", children)

    def not_expr(self):
        if (p := self.peek()) is not None and p.lower() == "not":
            self.take()
            return NotOp(self.not_expr())
        return self.primary()

    def primary(self):
        tok = self.take()
        if tok == "(":
            node = self.expr()
            if self.take() != ")":
                raise ValueError(
                    f"unbalanced parentheses in EQL condition {self.src!r}"
                )
            return node
        if tok.lower() in ("true", "false"):
            return BoolLit(tok.lower() == "true")
        if self.peek() == "(":
            return self.func_call(tok)
        if not _IDENT_RE.match(tok):
            raise ValueError(f"bad EQL field name {tok!r}")
        op = self.peek()
        negated = False
        if op is not None and op.lower() == "not":
            self.take()
            nxt = self.peek()
            if nxt is None or nxt.lower() != "in":
                raise ValueError(
                    f"expected 'in' after '{tok} not' in EQL condition "
                    f"{self.src!r}"
                )
            op, negated = "in", True
        if op is not None and op.lower() == "in":
            self.take()
            node = self.in_list(tok)
            return NotOp(node) if negated else node
        if op in _CMP_OPS:
            self.take()
            return Comparison(tok, op, _parse_literal(self.take()))
        raise ValueError(
            f"unsupported EQL comparison near {tok!r} in {self.src!r} "
            "(field-vs-literal comparisons, in-lists, and boolean "
            "combinations are supported; function calls are not)"
        )

    def in_list(self, fieldname: str) -> InList:
        if self.take() != "(":
            raise ValueError(
                f"EQL 'in' needs a parenthesized literal list in "
                f"{self.src!r}"
            )
        values = [_parse_literal(self.take())]
        while True:
            tok = self.take()
            if tok == ")":
                return InList(fieldname, values)
            if tok != ",":
                raise ValueError(
                    f"malformed EQL in-list near {tok!r} in {self.src!r}"
                )
            values.append(_parse_literal(self.take()))

    def func_call(self, name: str):
        insensitive = name.endswith("~")
        lname = (name[:-1] if insensitive else name).lower()
        if lname not in _EQL_FUNCS:
            raise ValueError(
                f"unsupported EQL function {name!r} "
                f"(supported: {', '.join(sorted(_EQL_FUNCS))}, each "
                "optionally ~-suffixed for case-insensitive matching)"
            )
        self.take()  # consume '('
        args: list = []
        tok = self.take()
        if tok == ")":
            raise ValueError(f"EQL {name}() needs arguments in {self.src!r}")
        while True:
            if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in "\"'":
                args.append(("lit", tok[1:-1]))
            elif _IDENT_RE.match(tok) and tok.lower() not in ("true", "false"):
                args.append(("field", tok))
            else:
                args.append(("lit", _parse_literal(tok)))
            sep = self.take()
            if sep == ")":
                break
            if sep != ",":
                raise ValueError(
                    f"malformed EQL argument list near {sep!r} in "
                    f"{self.src!r}"
                )
            tok = self.take()
        call = FuncCall(lname, args, insensitive)
        _validate_func(call, self.src)
        if lname in _NUM_FUNCS:
            op = self.peek()
            if op is None or op not in _CMP_OPS:
                raise ValueError(
                    f"EQL {name}() is numeric — compare it to a literal "
                    f"({' '.join(_CMP_OPS)}) in {self.src!r}"
                )
            self.take()
            return FuncCmp(call, op, _parse_literal(self.take()))
        return call


def _parse_condition(text: str) -> list:
    """Parse a stage condition to its top-level AND-joined node list.
    ``true`` → ``[]`` (match-all); a flat conjunction of comparisons
    stays ``[Comparison, ...]`` (the shape consumers and tests rely
    on); ``or`` / ``not`` / parens / in-lists produce nested nodes."""
    text = text.strip()
    if text == "true":
        return []
    node = _CondParser(_tokenize_condition(text), text).parse()
    if isinstance(node, BoolOp) and node.op == "and":
        return node.children
    return [node]


def _parse_pipes(pipe_srcs: list[str]) -> list[tuple]:
    """head/tail/count/unique — shared by event and sequence queries."""
    pipes: list[tuple] = []
    for ps in pipe_srcs:
        parts = ps.split()
        if not parts:
            raise ValueError("empty EQL pipe")
        name = parts[0].lower()
        if name in ("head", "tail"):
            if len(parts) != 2 or not parts[1].isdigit():
                raise ValueError(f"EQL {name} needs a count: {ps!r}")
            pipes.append((name, int(parts[1])))
        elif name == "count":
            if len(parts) != 1:
                raise ValueError(f"EQL count takes no args: {ps!r}")
            pipes.append(("count",))
        elif name == "unique":
            if len(parts) != 2 or not _IDENT_RE.match(parts[1]):
                raise ValueError(f"EQL unique needs a field: {ps!r}")
            pipes.append(("unique", parts[1]))
        else:
            raise ValueError(
                f"unsupported EQL pipe {name!r} "
                "(head/tail/count/unique)"
            )
    for i, p in enumerate(pipes):
        if p[0] == "count" and i != len(pipes) - 1:
            raise ValueError(
                "EQL `count` must be the final pipe: its output is a "
                "single aggregate row, so pipes after it would be "
                "silently dropped"
            )
    return pipes


def parse_eql(query: str) -> EqlQuery:
    """Parse the supported EQL subset into an :class:`EqlQuery`."""
    q = _normalize_ws(query)  # quote-aware: literals kept byte-for-byte
    if not q:
        raise ValueError("empty EQL query")
    # pipe boundaries located on the quote mask so `msg == 'a|b'` keeps
    # its literal intact; pipes apply to event queries (over hits) AND
    # sequences (over matches in last-event hit order, ES's contract)
    main, *pipe_srcs = _split_unquoted(q, "|")
    main = main.strip()
    pipes = _parse_pipes(pipe_srcs)
    if re.match(r"^sample\b", main, flags=re.IGNORECASE) and \
            "[" in _quote_mask(main):
        # EQL sample: un-ordered per-key correlation — one event
        # per stage joined on the `by` key (global `sample by ...`
        # and/or per-stage `[stage] by field`, ES 8.6 grammar), NO
        # chronology, NO maxspan. `sample where ...` (an event category
        # named "sample") does not reach here: it has no [ ... ] stage.
        if pipes:
            raise ValueError(
                "EQL sample results have no hit order (samples are "
                "unordered by contract), so head/tail/unique pipes are "
                "meaningless — refuse rather than invent an order"
            )
        q_mask = _quote_mask(main)
        bracket_at = q_mask.find("[")
        head, rest = main[:bracket_at], main[bracket_at:]
        m = re.match(r"^sample(?:\s+by\s+(.+?))?\s*$", head,
                     flags=re.IGNORECASE)
        if not m:
            raise ValueError(
                f"unsupported EQL sample head {head.strip()!r} "
                "(expected: sample [by <field>[, <field>...]])"
            )
        by = ([f.strip() for f in m.group(1).split(",")]
              if m.group(1) else [])
        for f in by:
            if not _IDENT_RE.match(f):
                raise ValueError(f"bad EQL join-key field {f!r}")
        stages: list[StageFilter] = []
        rest_mask = _quote_mask(rest)
        toks = [t for t in re.finditer(
            r"\[\s*(\S+)\s+where\s+([^\]]*)\]|(\S+)",
            rest_mask, flags=re.IGNORECASE,
        )]
        filtered, pos = [], 0
        for t in toks:
            if t.start() >= pos:
                filtered.append(t)
                pos = t.end()
        toks = filtered
        last_sf: StageFilter | None = None
        ti = 0
        while ti < len(toks):
            tok = toks[ti]
            ti += 1
            if tok.group(3) is not None:
                word = rest[tok.start(3):tok.end(3)]
                if word.lower() == "by" and last_sf is not None:
                    # per-stage join keys: `[ stage ] by f1, f2`,
                    # same consumption loop as the sequence parser
                    fields: list[str] = []
                    more = True
                    while more:
                        if ti >= len(toks) or toks[ti].group(3) is None:
                            raise ValueError(
                                "EQL per-stage `by` needs field names"
                            )
                        w = rest[toks[ti].start(3):toks[ti].end(3)]
                        ti += 1
                        more = w.endswith(",")
                        for part in w.split(","):
                            if not part:
                                continue
                            if not _IDENT_RE.match(part):
                                raise ValueError(
                                    f"bad EQL per-stage by field {part!r}"
                                )
                            fields.append(part)
                        if not more and ti < len(toks) \
                                and toks[ti].group(3) is not None:
                            nxt = rest[toks[ti].start(3):toks[ti].end(3)]
                            if nxt == ",":
                                ti += 1
                                more = True
                    last_sf.by = fields
                    continue
                raise ValueError(
                    "EQL sample supports neither `until` nor `with "
                    f"runs` — unexpected {word!r} (samples are "
                    "unordered, so run/termination semantics don't "
                    "apply)"
                )
            sf = StageFilter(
                rest[tok.start(1):tok.end(1)],
                _parse_condition(rest[tok.start(2):tok.end(2)].strip()),
            )
            stages.append(sf)
            last_sf = sf
        if len(stages) < 2:
            raise ValueError("EQL sample needs >= 2 stages")
        with_by = [s for s in stages if s.by is not None]
        if with_by:
            arity = len(with_by[0].by)
            if len(with_by) != len(stages) or any(
                    len(s.by) != arity for s in stages):
                raise ValueError(
                    "per-stage `by` must appear on EVERY stage with the "
                    "same field count (ES's sample join contract)"
                )
            for nm in stages[0].by:
                if nm in by:
                    raise ValueError(
                        f"per-stage by field {nm!r} collides with a "
                        "global by field (output columns would clash)"
                    )
        if not by and not with_by:
            raise ValueError(
                "EQL sample needs a join key: global `sample by` and/or "
                "per-stage `[stage] by`"
            )
        return EqlQuery("sample", stages, by=by)
    if not main.lower().startswith("sequence"):
        # simple event query: `<category> where <cond> [| pipe ...]`
        m = re.match(r"^(\S+)\s+where\s+(.*)$", main,
                     flags=re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported EQL query {query!r}")
        return EqlQuery(
            "event",
            [StageFilter(m.group(1), _parse_condition(m.group(2)))],
            pipes=pipes,
        )
    q = main
    q_mask = _quote_mask(q)
    bracket_at = q_mask.find("[")
    if bracket_at == -1:
        raise ValueError("EQL sequence needs at least one [ ... ] stage")
    head, rest = q[:bracket_at], q[bracket_at + 1:]
    m = re.match(
        r"^sequence(?:\s+by\s+(.+?))?(?:\s+with\s+maxspan\s*=\s*(\S+))?\s*$",
        head, flags=re.IGNORECASE,
    )
    if not m:
        raise ValueError(
            f"unsupported EQL sequence head {head.strip()!r} "
            "(expected: sequence [by <field>[, <field>...]] "
            "[with maxspan=<dur>])"
        )
    by = ([f.strip() for f in m.group(1).split(",")]
          if m.group(1) else [])
    for f in by:
        if not _IDENT_RE.match(f):
            raise ValueError(f"bad EQL join-key field {f!r}")
    maxspan = _parse_duration(m.group(2)) if m.group(2) else None
    stages: list[StageFilter] = []
    until: StageFilter | None = None
    in_until = False
    body_src = "[" + rest
    # tokenize on the quote mask (indexes line up with body_src) so `]`
    # or `[` inside a string literal can't truncate / split a stage
    body_mask = _quote_mask(body_src)
    toks = [
        t for t in re.finditer(
            r"\[\s*(\S+)\s+where\s+([^\]]*)\]"
            r"|with\s+runs\s*=\s*(\d+)|(\S+)",
            body_mask, flags=re.IGNORECASE,
        )
    ]
    # drop word-matches that fall inside an earlier stage match
    filtered, pos = [], 0
    for t in toks:
        if t.start() >= pos:
            filtered.append(t)
            pos = t.end()
    toks = filtered
    pending_runs_ok = False
    last_sf: StageFilter | None = None
    ti = 0
    while ti < len(toks):
        tok = toks[ti]
        ti += 1
        if tok.group(3) is not None:
            # EQL `[stage] with runs=N`: the stage repeated N times —
            # pure expansion sugar (the automaton/oracle see N stages)
            if not pending_runs_ok or in_until:
                raise ValueError(
                    "`with runs=N` must directly follow a sequence stage"
                )
            n = int(tok.group(3))
            if not 1 <= n <= 10:
                raise ValueError(f"runs must be in [1, 10], got {n}")
            stages.extend(StageFilter(stages[-1].category,
                                      list(stages[-1].conditions),
                                      by=stages[-1].by)
                          for _ in range(n - 1))
            pending_runs_ok = False
            continue
        if tok.group(4) is not None:
            word = body_src[tok.start(4):tok.end(4)]
            if word.lower() == "until":
                if in_until:
                    raise ValueError(
                        "EQL sequence takes at most one until"
                    )
                in_until = True
                pending_runs_ok = False
                last_sf = None
                continue
            if word.lower() == "by" and last_sf is not None:
                # per-stage join keys: `[ stage ] by f1, f2`
                fields: list[str] = []
                more = True
                while more:
                    if ti >= len(toks) or toks[ti].group(4) is None:
                        raise ValueError(
                            "EQL per-stage `by` needs field names"
                        )
                    w = body_src[toks[ti].start(4):toks[ti].end(4)]
                    ti += 1
                    more = w.endswith(",")
                    for part in w.split(","):
                        if not part:
                            continue
                        if not _IDENT_RE.match(part):
                            raise ValueError(
                                f"bad EQL per-stage by field {part!r}"
                            )
                        fields.append(part)
                    if not more and ti < len(toks) \
                            and toks[ti].group(4) is not None:
                        nxt = body_src[toks[ti].start(4):toks[ti].end(4)]
                        if nxt == ",":
                            ti += 1
                            more = True
                last_sf.by = fields
                continue
            raise ValueError(
                f"malformed EQL sequence near {word!r}"
            )
        sf = StageFilter(body_src[tok.start(1):tok.end(1)],
                         _parse_condition(
                             body_src[tok.start(2):tok.end(2)].strip()))
        if in_until:
            if until is not None:
                raise ValueError("EQL sequence takes at most one until")
            until = sf
            pending_runs_ok = False
        else:
            stages.append(sf)
            pending_runs_ok = True
        last_sf = sf
    if in_until and until is None:
        raise ValueError("EQL until needs a [ ... ] stage")
    if len(stages) < 2:
        raise ValueError("EQL sequence needs >= 2 stages")
    with_by = [s for s in stages if s.by is not None]
    if with_by:
        arity = len(with_by[0].by)
        if len(with_by) != len(stages) or any(
                len(s.by) != arity for s in stages):
            raise ValueError(
                "per-stage `by` must appear on EVERY stage with the "
                "same field count (ES's sequence join contract)"
            )
        if until is not None and (
                until.by is None or len(until.by) != arity):
            raise ValueError(
                "a sequence with per-stage `by` needs `until ... by` "
                "with the same field count"
            )
    elif until is not None and until.by is not None:
        raise ValueError("until has per-stage `by` but the stages don't")
    if not by and not with_by:
        raise ValueError(
            "EQL sequence needs a join key: global `sequence by` and/or "
            "per-stage `[stage] by` (a keyless sequence would serialize "
            "the whole stream through one task — refuse rather than "
            "degrade)"
        )
    return EqlQuery("sequence", stages, by=by, maxspan_s=maxspan,
                    until=until, pipes=pipes)


def _cmp_col(c: Comparison) -> Column:
    col = F.col(c.field)
    lit = F.lit(c.value)
    return {
        "==": col == lit, "!=": col != lit, ">": col > lit,
        ">=": col >= lit, "<": col < lit, "<=": col <= lit,
    }[c.op]


def _wildcard_regex(pat: str) -> str:
    """EQL wildcard pattern (``*`` any run, ``?`` one char) → anchored
    regex, every other char escaped literally."""
    out = []
    for c in pat:
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        else:
            out.append(re.escape(c))
    return "^" + "".join(out) + "$"


# The cidrMatch predicate (group-wise IPv6 prefix compare + IPv4 range
# arithmetic) is functions/ip.py's cidr_match, shared with ES|QL's
# CIDR_MATCH; the ip_range/ip_prefix aggs share its address parsing


def _func_col(call: FuncCall) -> Column:
    """Compile a boolean FuncCall to a Column predicate — string funcs
    via the matching Catalyst expressions (lowered on both sides for the
    ``~`` variants), cidrMatch via the //-and-% octet arithmetic the
    ip_prefix agg established (the CIDR literal is parsed at COMPILE
    time, so per-row work is one regex validate + 4-octet arithmetic)."""
    fld = F.col(call.args[0][1])
    if call.name in ("startswith", "endswith", "stringcontains"):
        lit = call.args[1][1]
        if call.insensitive:
            fld, lit = F.lower(fld), lit.lower()
        if call.name == "startswith":
            return fld.startswith(lit)
        if call.name == "endswith":
            return fld.endswith(lit)
        return fld.contains(lit)
    if call.name == "wildcard":
        src = F.lower(fld) if call.insensitive else fld
        pred = None
        for _, pat in call.args[1:]:
            r = _wildcard_regex(pat.lower() if call.insensitive else pat)
            m = src.rlike(r)
            pred = m if pred is None else (pred | m)
        return pred
    if call.name == "cidrmatch":
        pred = None
        for _, cidr in call.args[1:]:
            m = cidr_match(fld, cidr)
            pred = m if pred is None else (pred | m)
        return pred
    raise TypeError(f"not a boolean EQL function: {call.name}")


def _node_col(node) -> Column:
    """Compile one condition node to a Column predicate (pure Catalyst
    expressions — stage predicates stay inside whole-stage codegen and
    are evaluated BEFORE the sequence shuffle)."""
    if isinstance(node, Comparison):
        return _cmp_col(node)
    if isinstance(node, FuncCall):
        return _func_col(node)
    if isinstance(node, FuncCmp):
        inner = F.length(F.col(node.func.args[0][1])).cast("long")
        lit = F.lit(node.value)
        return {
            "==": inner == lit, "!=": inner != lit, ">": inner > lit,
            ">=": inner >= lit, "<": inner < lit, "<=": inner <= lit,
        }[node.op]
    if isinstance(node, InList):
        return F.col(node.field).isin(*node.values)
    if isinstance(node, NotOp):
        return ~_node_col(node.child)
    if isinstance(node, BoolOp):
        out = _node_col(node.children[0])
        for child in node.children[1:]:
            nxt = _node_col(child)
            out = (out & nxt) if node.op == "and" else (out | nxt)
        return out
    if isinstance(node, BoolLit):
        return F.lit(node.value)
    raise TypeError(f"unknown EQL condition node {node!r}")


def _stage_pred(stage: StageFilter, category_field: str) -> Column:
    pred = F.lit(True) if stage.category == "any" else (
        F.col(category_field) == F.lit(stage.category)
    )
    for c in stage.conditions:
        pred = pred & _node_col(c)
    return pred


def eql_search(
    df: DataFrame,
    query: str | EqlQuery,
    *,
    timestamp_field: str = "ts",
    event_category_field: str = "event_type",
    id_field: str = "event_id",
    max_events_per_key: int | None = None,
) -> DataFrame:
    """Run an EQL query over ``df``.

    Event queries return the matching events ordered by (timestamp, id).
    Sequences return one row per matched sequence:
    ``(<by>, first_ts, last_ts, id1..idL)`` with timestamps as epoch-second
    doubles (``ts.cast('double')`` — the engine's oracle-stable rendering).

    ``max_events_per_key`` bounds the per-key collected event list the
    sequence automaton scans (the one data-dependent memory term — a hot
    key at 100 TB would otherwise build an executor-sized array). When
    set, a key whose stage-matching event count exceeds the bound FAILS
    THE JOB LOUDLY with the offending key and count in the message —
    truncation would silently drop matches, the failure mode this engine
    bans. Unset (default) keeps ES's semantics: the full linear scan ES's
    own sequencer performs per key.
    """
    eq = parse_eql(query) if isinstance(query, str) else query
    if eq.kind == "event":
        out = (
            df.filter(_stage_pred(eq.stages[0], event_category_field))
            .orderBy(timestamp_field, id_field)
        )
        for pipe in eq.pipes:
            if pipe[0] == "head":
                # TakeOrderedAndProject — the first N in EQL hit order
                out = out.orderBy(timestamp_field, id_field).limit(pipe[1])
            elif pipe[0] == "tail":
                out = (
                    out.orderBy(F.col(timestamp_field).desc(),
                                F.col(id_field).desc())
                    .limit(pipe[1])
                    .orderBy(timestamp_field, id_field)
                )
            elif pipe[0] == "count":
                return out.agg(F.count(F.lit(1)).alias("count"))
            elif pipe[0] == "unique":
                # EQL unique: the FIRST event per distinct value, hit order
                w = Window.partitionBy(pipe[1]).orderBy(
                    F.col(timestamp_field).asc(), F.col(id_field).asc()
                )
                out = (
                    out.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1).drop("__rn")
                    .orderBy(timestamp_field, id_field)
                )
        return out

    if eq.kind == "sample":
        # EQL sample: one row per join key where EVERY stage has >= 1
        # matching event, carrying one event id per stage. Chronology is
        # ignored by contract (ES 8.6+ `sample` queries). Documented
        # divergence: ES returns up to `size` samples and picks
        # per-stage events heuristically (most recently ingested); this
        # engine emits every qualifying key and picks the event with the
        # SMALLEST id per stage — deterministic, so the result stays
        # hash-oracle-checkable. An event matching several stages may
        # serve each of them (stages pick independently, ES-compatible).
        # Scale: per-stage conditional ids are computed in the scan, so
        # the single groupBy shuffles only (key, L nullable longs) with
        # map-side partial min — no payload, no ordering, no state.
        L = len(eq.stages)
        preds = [_stage_pred(s, event_category_field) for s in eq.stages]
        any_stage = preds[0]
        for p in preds[1:]:
            any_stage = any_stage | p
        ev = df.filter(any_stage)
        for kf in eq.by:
            ev = ev.filter(F.col(kf).isNotNull())
        if eq.stages[0].by is not None:
            # per-stage join keys: each stage keys on its OWN
            # field(s) and the values must agree. Same convention as
            # sequences: keys compare as STRING renderings
            # (array<string>, output column `skey`); NULL key values
            # drop the stage match. Events fan out once per DISTINCT
            # candidate key (<= L copies, in practice 1), then the SAME
            # single conditional-min groupBy runs per (global keys,
            # skey) — still one shuffle, no ordering, no state.
            by_lists = [s.by for s in eq.stages]

            def skey(fields: list) -> Column:
                return F.array(*[F.col(f).cast("string")
                                 for f in fields])

            def svalid(fields: list) -> Column:
                v = F.lit(True)
                for f in fields:
                    v = v & F.col(f).isNotNull()
                return v

            ev = ev.select(
                *[F.col(kf) for kf in eq.by],
                F.col(id_field).cast("bigint").alias("__eid"),
                *[F.when(p & svalid(fl), skey(fl)).alias(f"__s{j}")
                  for j, (p, fl) in enumerate(zip(preds, by_lists))],
            )
            cand = F.array_distinct(F.filter(
                F.array(*[F.col(f"__s{j}") for j in range(L)]),
                lambda x: x.isNotNull(),
            ))
            ev = ev.select("*", F.explode(cand).alias("skey"))
            grouped = ev.groupBy(*eq.by, "skey").agg(*[
                F.min(F.when(
                    F.col(f"__s{j}").isNotNull()
                    & (F.col(f"__s{j}") == F.col("skey")),
                    F.col("__eid"),
                )).alias(f"id{j + 1}")
                for j in range(L)
            ])
        else:
            ev = ev.select(
                *[F.col(kf) for kf in eq.by],
                *[F.when(p, F.col(id_field).cast("bigint"))
                  .alias(f"__e{j}") for j, p in enumerate(preds)],
            )
            grouped = ev.groupBy(*eq.by).agg(
                *[F.min(f"__e{j}").alias(f"id{j + 1}") for j in range(L)]
            )
        keep = F.col("id1").isNotNull()
        for j in range(1, L):
            keep = keep & F.col(f"id{j + 1}").isNotNull()
        return grouped.filter(keep)

    L = len(eq.stages)
    preds = [_stage_pred(s, event_category_field) for s in eq.stages]
    if eq.until is not None:
        # until events terminate in-progress sequences (ES's contract);
        # when an event matches both until and a stage, until wins —
        # documented tie-break.
        preds.append(_stage_pred(eq.until, event_category_field))
    any_stage = preds[0]
    for p in preds[1:]:
        any_stage = any_stage | p

    # epoch-second double: timestamp cols go via TIMESTAMP (covers
    # TIMESTAMP_NTZ parquet, which cannot cast to double directly);
    # numeric cols pass through
    ts_type = df.schema[timestamp_field].dataType.simpleString()
    tscol = F.col(timestamp_field)
    if ts_type.startswith("timestamp"):
        tscol = tscol.cast("timestamp")
    # shuffle only (key, ts, id, L match bits) — never the event payload
    kcols = [F.col(kf).alias(f"__k{i}") for i, kf in enumerate(eq.by)]
    gnames = [f"__k{i}" for i in range(len(eq.by))]
    stage_by = eq.stages[0].by is not None
    if stage_by:
        # per-stage join keys: each stage contributes its OWN
        # field(s), and their values must be EQUAL across stages. An
        # event's stage bits can imply different candidate key values,
        # so events fan out once per DISTINCT candidate key (≤ L copies,
        # in practice 1) and the stage bits are re-masked to the stages
        # whose key equals that candidate — then the single key shuffle
        # proceeds exactly as in the global-by case. Keys compare as
        # STRING renderings (array<string>), the documented convention
        # for cross-typed per-stage fields; NULL key values drop the
        # stage match (ES's null-join-key contract).
        by_lists = [s.by for s in eq.stages]
        if eq.until is not None:
            by_lists.append(eq.until.by)
        for nm in eq.stages[0].by:
            if nm in eq.by:
                raise ValueError(
                    f"per-stage by field {nm!r} collides with a global "
                    "by field (output columns would clash)"
                )

        def skey(fields):
            return F.array(*[F.col(f).cast("string") for f in fields])

        def svalid(fields):
            v = F.lit(True)
            for f in fields:
                v = v & F.col(f).isNotNull()
            return v

        scols = [
            F.when(p & svalid(fl), skey(fl)).alias(f"__s{j}")
            for j, (p, fl) in enumerate(zip(preds, by_lists))
        ]
        ev = df.filter(any_stage).select(
            *kcols,
            tscol.cast("double").alias("tsd"),
            F.col(id_field).cast("bigint").alias("eid"),
            *scols,
        )
        cand = F.array_distinct(F.filter(
            F.array(*[F.col(f"__s{j}") for j in range(len(by_lists))]),
            lambda x: x.isNotNull(),
        ))
        ev = ev.select("*", F.explode(cand).alias("__sk"))
        m2 = F.array(*[
            F.col(f"__s{j}").isNotNull()
            & (F.col(f"__s{j}") == F.col("__sk"))
            for j in range(len(by_lists))
        ])
        ev = ev.select(*gnames, "tsd", "eid", m2.alias("m"), "__sk")
        knames = gnames + ["__sk"]
    else:
        ev = df.filter(any_stage).select(
            *kcols,
            tscol.cast("double").alias("tsd"),
            F.col(id_field).cast("bigint").alias("eid"),
            F.array(*preds).alias("m"),
        )
        knames = gnames
    for kn in gnames:
        ev = ev.filter(F.col(kn).isNotNull())

    slot_t = "struct<fts:double,ids:array<bigint>>"
    emit_t = "struct<fts:double,lts:double,ids:array<bigint>>"
    init = F.struct(
        F.array(*([F.lit(None).cast(slot_t)] * (L - 1))).alias("slots"),
        F.array().cast(f"array<{emit_t}>").alias("emits"),
    )

    def merge(acc: Column, e: Column) -> Column:
        slots, emits = acc["slots"], acc["emits"]
        # ext = the DEEPEST stage this event can play: j extends the pending
        # length-j prefix (slot j-1) to length j+1; 0 starts a new prefix;
        # -1 leaves the state untouched.
        ext = F.lit(-1)
        conds = []
        for j in range(1, L):
            prev = slots[j - 1]
            c = e["m"][j] & prev.isNotNull()
            if eq.maxspan_s is not None:
                c = c & ((e["tsd"] - prev["fts"]) <= F.lit(eq.maxspan_s))
            conds.append((j, c))
        chain = F.when(conds[-1][1], F.lit(conds[-1][0]))
        for j, c in reversed(conds[:-1]):
            chain = chain.when(c, F.lit(j))
        ext = chain.when(e["m"][0], F.lit(0)).otherwise(F.lit(-1))

        new_slots = []
        for sidx in range(L - 1):
            if sidx == 0:
                receive = F.struct(
                    e["tsd"].alias("fts"), F.array(e["eid"]).alias("ids")
                )
            else:
                prev = slots[sidx - 1]
                receive = F.struct(
                    prev["fts"].alias("fts"),
                    F.concat(prev["ids"], F.array(e["eid"])).alias("ids"),
                )
            new_slots.append(
                F.when(ext == sidx, receive)
                .when(ext == sidx + 1, F.lit(None).cast(slot_t))
                .otherwise(slots[sidx])
            )
        last = slots[L - 2]
        emitted = F.struct(
            last["fts"].alias("fts"),
            e["tsd"].alias("lts"),
            F.concat(last["ids"], F.array(e["eid"])).alias("ids"),
        )
        new_emits = F.when(
            ext == L - 1, F.concat(emits, F.array(emitted))
        ).otherwise(emits)
        if eq.until is not None:
            u = e["m"][L]  # trailing until flag
            new_slots = [
                F.when(u, F.lit(None).cast(slot_t)).otherwise(ns)
                for ns in new_slots
            ]
            new_emits = F.when(u, emits).otherwise(new_emits)
        return F.struct(
            F.array(*new_slots).alias("slots"), new_emits.alias("emits")
        )

    grouped = ev.groupBy(*knames).agg(
        F.sort_array(F.collect_list(F.struct("tsd", "eid", "m")))
        .alias("evs")
    )
    if max_events_per_key is not None:
        if max_events_per_key < L:
            raise ValueError(
                f"max_events_per_key={max_events_per_key} is below the "
                f"sequence length {L}: no sequence could ever complete"
            )
        # executor-side guard: assert_true fails the task with the hot
        # key in the message; F.when forces evaluation before the
        # automaton consumes the (possibly oversized) array
        msg = F.concat(
            F.lit("EQL hot key ("),
            F.concat_ws(", ", *[F.col(kn).cast("string") for kn in knames]),
            F.lit(") has "), F.size("evs").cast("string"),
            F.lit(f" stage-matching events > max_events_per_key="
                  f"{max_events_per_key}"),
        )
        ok = F.assert_true(
            F.size("evs") <= F.lit(max_events_per_key), msg
        )
        grouped = grouped.withColumn(
            "evs", F.when(ok.isNull(), F.col("evs"))
        )
    runs = (
        grouped
        .select(
            *knames,
            F.aggregate(F.col("evs"), init, merge, lambda a: a["emits"])
            .alias("emits"),
        )
        .select(*knames, F.explode("emits").alias("s"))
    )
    id_cols = [
        F.element_at(F.col("s.ids"), i + 1).alias(f"id{i + 1}")
        for i in range(L)
    ]
    key_out = [F.col(kn).alias(kf) for kn, kf in zip(gnames, eq.by)]
    if stage_by:
        # name the unified per-stage key columns after the FIRST stage's
        # fields (ES reports join keys positionally); values are the
        # string renderings the key compares as
        key_out += [
            F.col("__sk")[i].alias(nm)
            for i, nm in enumerate(eq.stages[0].by)
        ]
    out = runs.select(
        *key_out,
        F.col("s.fts").alias("first_ts"),
        F.col("s.lts").alias("last_ts"),
        *id_cols,
    )
    if not eq.pipes:
        return out
    # sequence hit order: by the final event (last_ts, then its id as the
    # deterministic tiebreak) — ES orders sequence matches by the
    # timestamp of their last event
    asc = [F.col("last_ts").asc(), F.col(f"id{L}").asc()]
    desc = [F.col("last_ts").desc(), F.col(f"id{L}").desc()]
    for pipe in eq.pipes:
        if pipe[0] == "head":
            out = out.orderBy(*asc).limit(pipe[1])
        elif pipe[0] == "tail":
            out = out.orderBy(*desc).limit(pipe[1]).orderBy(*asc)
        elif pipe[0] == "count":
            return out.agg(F.count(F.lit(1)).alias("count"))
        elif pipe[0] == "unique":
            if pipe[1] not in out.columns:
                raise ValueError(
                    f"EQL unique field {pipe[1]!r} is not a sequence "
                    f"output column (have: {out.columns})"
                )

            w = Window.partitionBy(pipe[1]).orderBy(*asc)
            out = (
                out.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1).drop("__rn")
            )
    return out.orderBy(*asc)
