"""PromQL subset evaluator over the tagged points table.

The reference embeds the upstream PromQL engine over its storage.Querier
(prometheus/run.go:43-63: promql.NewEngine + web/api v1 routes), which
gives it /api/v1/query and /api/v1/query_range for free. No public
pure-Python PromQL engine is available in this container, so this module
implements the evaluation semantics of the practical subset directly as
DataFrame plans:

- instant-vector selectors `name{k="v",k2=~"re"}` with staleness lookback
  (sample picked per eval step = newest sample in (t - lookback, t]) and
  the `offset <dur>` modifier;
- range-vector functions rate / increase / delta / idelta / irate /
  deriv /
  changes / resets / holt_winters / quantile_over_time /
  {avg,sum,min,max,count,last,stddev,stdvar}_over_time over
  `sel[window]`, and subqueries `expr[window:resolution]` (inner
  expression evaluated on its own absolute-aligned grid);
- aggregation operators sum / avg / min / max / count / stddev / stdvar
  / count_values and parameterized topk / bottomk / quantile with `by (...)` /
  `without (...)` grouping;
- absent(); histogram_quantile() over `le`-labeled cumulative buckets;
- math functions abs/ceil/floor/round/exp/ln/log2/log10/sqrt/sgn/
  clamp/clamp_min/clamp_max; label_replace / label_join;
- vector-scalar arithmetic (+ - * /) in either operand order, and
  vector-vector arithmetic with label matching (default one-to-one key,
  on(...) / ignoring(...) modifiers, group_left / group_right
  many-to-one with label copying); and / or / unless set operators;
  predict_linear;
- comparison operators (> < >= <= == !=) in filter and `bool` modes, for
  both vector-scalar and matched vector-vector operands;
- time() as a per-step scalar in arithmetic and comparisons.

Evaluation strategy (Spark-first, no Python in the hot path): instead of
a theta-join between points and the eval-step grid, every sample computes
the contiguous range of eval indices it can serve — for a sample at p and
eval times t_j = start + j*step, `p in (t_j - w, t_j]` iff
`ceil((p-start)/step) <= j <= ceil((p+w-start)/step) - 1` — and explodes
`sequence(j_min, j_max)` (bounded by ~w/step + 1 rows per sample). One
hash aggregation per (series, j) then computes the window function. All
arithmetic is integer Column expressions inside whole-stage codegen;
rate/increase reproduce the upstream extrapolation algorithm
(promql/functions.go extrapolatedRate — public semantics) over a
sort_array + aggregate() fold, still JVM-side.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .prometheus import LabelMatcher, terms_from_matchers
from .tagged import tagged_predicate

#: Prometheus default staleness lookback (--query.lookback-delta), seconds.
DEFAULT_LOOKBACK = 300

#: Prometheus hard cap on eval steps per query (web/api: "exceeded maximum
#: resolution of 11,000 points per timeseries").
MAX_RESOLUTION = 11000

AGG_OPS = {"sum", "avg", "min", "max", "count", "stddev", "stdvar",
           "topk", "bottomk", "quantile", "count_values", "group"}
#: aggregation operators taking a leading scalar parameter
PARAM_AGG_OPS = {"topk", "bottomk", "quantile"}
RANGE_FNS = {
    "rate", "increase", "delta", "idelta", "irate", "deriv", "changes",
    "resets",
    "avg_over_time", "sum_over_time", "min_over_time", "max_over_time",
    "count_over_time", "last_over_time", "present_over_time",
    "predict_linear",
    "stddev_over_time", "stdvar_over_time", "quantile_over_time",
    "holt_winters", "double_exponential_smoothing",
}
#: range functions taking trailing scalar argument(s)
RANGE_FNS_SCALAR = {"predict_linear", "holt_winters",
                    "double_exponential_smoothing"}
#: range functions taking a LEADING scalar argument
RANGE_FNS_LEADING_SCALAR = {"quantile_over_time"}
#: instant-vector math functions: value -> value, metric name dropped
MATH_FNS = {
    "abs", "ceil", "floor", "exp", "ln", "log2", "log10", "sqrt", "sgn",
    "clamp_min", "clamp_max", "clamp", "round",
    "sin", "cos", "tan", "asin", "acos", "atan",
    "sinh", "cosh", "tanh", "deg", "rad",
}
#: math functions taking a trailing scalar argument (round's is optional)
MATH_FNS_SCALAR = {"clamp_min", "clamp_max"}
#: calendar-component functions over sample values as UTC epoch seconds
#: (0-arg form applies to the evaluation timestamp, upstream functions.go)
TIME_COMPONENT_FNS = {
    "minute", "hour", "day_of_week", "day_of_month", "day_of_year",
    "days_in_month", "month", "year",
}

_DURATION_RE = re.compile(r"(\d+)(ms|s|m|h|d|w|y)")
_DURATION_UNIT = {
    "ms": 0.001, "s": 1, "m": 60, "h": 3600,
    "d": 86400, "w": 604800, "y": 31536000,
}


class PromQLError(ValueError):
    http_status = 400


#: comparison operators -> Column predicate builders (filter semantics by
#: default; 0/1 with the `bool` modifier)
_COMPARE_COLS = {
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    ">": lambda a, b: a > b,
    "<": lambda a, b: a < b,
    ">=": lambda a, b: a >= b,
    "<=": lambda a, b: a <= b,
}


_ESCAPES = {
    "n": "\n", "t": "\t", "r": "\r", "a": "\a", "b": "\b", "f": "\f",
    "v": "\v", "\\": "\\", '"': '"', "'": "'", "`": "`",
}


def _unquote(s: str) -> str:
    """Process backslash escapes in a PromQL string/matcher literal,
    leaving non-ASCII text intact (Go strconv.Unquote semantics; a
    unicode_escape round-trip would mojibake UTF-8 like 'café' through
    latin-1). Handles \\n-style escapes plus \\xHH, \\uHHHH, \\UHHHHHHHH
    and octal \\NNN."""
    if "\\" not in s:
        return s
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        if i + 1 >= n:
            raise PromQLError(f"trailing backslash in string literal: {s!r}")
        e = s[i + 1]
        if e in _ESCAPES:
            out.append(_ESCAPES[e])
            i += 2
            continue
        if e in ("x", "u", "U"):
            width = {"x": 2, "u": 4, "U": 8}[e]
            hexs = s[i + 2 : i + 2 + width]
            if len(hexs) != width or any(
                ch not in "0123456789abcdefABCDEF" for ch in hexs
            ):
                raise PromQLError(f"invalid escape sequence in {s!r}")
            out.append(chr(int(hexs, 16)))
            i += 2 + width
            continue
        if e in "01234567":
            octs = s[i + 1 : i + 4]
            if len(octs) == 3 and all(ch in "01234567" for ch in octs):
                out.append(chr(int(octs, 8)))
                i += 4
                continue
            raise PromQLError(f"invalid escape sequence in {s!r}")
        raise PromQLError(f"unknown escape \\{e} in string literal {s!r}")
    return "".join(out)


def _scalar_fold(op: str, a: float, b: float, bool_mode: bool) -> float:
    """scalar <op> scalar, following Go float semantics (div by zero ->
    +/-Inf or NaN, % is math.Mod, ^ is math.Pow). Comparisons between
    scalars require the bool modifier, as upstream."""
    if op in _Parser._COMPARISONS:
        if not bool_mode:
            raise PromQLError(
                "comparisons between scalars must use BOOL modifier"
            )
        ok = {"==": a == b, "!=": a != b, ">": a > b, "<": a < b,
              ">=": a >= b, "<=": a <= b}[op]
        return 1.0 if ok else 0.0
    if op == "/":
        if b == 0.0:
            return math.nan if (a == 0.0 or math.isnan(a)) else math.copysign(math.inf, a) * math.copysign(1.0, b)
        return a / b
    if op == "%":
        return math.fmod(a, b) if b != 0.0 else math.nan
    if op == "^":
        # Go's math.Pow never errors: overflow saturates to +/-Inf and a
        # negative base with fractional exponent is NaN; CPython raises
        # OverflowError/ValueError for those (fuzz-found on `10^309`)
        try:
            return math.pow(a, b)
        except OverflowError:
            neg = a < 0 and float(b).is_integer() and int(b) % 2 == 1
            return -math.inf if neg else math.inf
        except ValueError:
            # CPython raises ValueError for the 0^negative pole too, where
            # Go's math.Pow returns +/-Inf: Pow(0, -1) == +Inf and
            # Pow(-0, odd negative) == -Inf (pow special cases in Go's
            # math/pow.go). Keep NaN only for negative base ^ fractional.
            if a == 0.0 and b < 0.0:
                neg = (
                    math.copysign(1.0, a) < 0
                    and float(b).is_integer()
                    and int(b) % 2 == 1
                )
                return -math.inf if neg else math.inf
            return math.nan
    if op == "atan2":
        return math.atan2(a, b)
    return {"+": a + b, "-": a - b, "*": a * b}[op]


def _arith_col(op: str, left, right):
    """Arithmetic Column for + - * / % ^ (Spark double % matches Go
    math.Mod — remainder with the dividend's sign; ^ is pow)."""
    if op == "^":
        return F.pow(left, right)
    if op == "atan2":
        return F.atan2(left, right)
    return {
        "+": left + right, "-": left - right,
        "*": left * right, "/": left / right, "%": left % right,
    }[op]


def parse_duration(s: str) -> int:
    """`1h30m` -> seconds (multi-unit Prometheus duration grammar; a bare
    number is accepted as seconds — the /api/v1/query_range `step`
    parameter allows that form)."""
    s = s.strip()
    if re.fullmatch(r"[0-9]+(\.[0-9]+)?", s):
        val = float(s)
        if val != int(val):
            raise PromQLError(
                f"sub-second durations are not supported by this engine "
                f"(whole-second evaluation grid): {s!r}"
            )
        sec = int(val)
        if sec <= 0:
            raise PromQLError(f"duration must be positive: {s!r}")
        return sec
    pos, total = 0, 0.0
    for m in _DURATION_RE.finditer(s):
        if m.start() != pos:
            raise PromQLError(f"invalid duration: {s!r}")
        total += int(m.group(1)) * _DURATION_UNIT[m.group(2)]
        pos = m.end()
    if pos != len(s) or pos == 0:
        raise PromQLError(f"invalid duration: {s!r}")
    # upstream tracks durations at millisecond resolution; this engine
    # evaluates on a whole-second grid — REFUSE a lossy truncation
    # ('1500ms' must not silently become 1s)
    if total != int(total):
        raise PromQLError(
            f"sub-second durations are not supported by this engine "
            f"(whole-second evaluation grid): {s!r}"
        )
    sec = int(total)
    if sec <= 0:
        raise PromQLError(f"duration must be positive: {s!r}")
    return sec


# ---- AST ----------------------------------------------------------------


@dataclass
class VectorSelector:
    matchers: list[LabelMatcher]
    offset: int = 0  # seconds; shifts the evaluated window into the past
    #: `@` modifier: pin the evaluation timestamp — epoch seconds, or
    #: "start"/"end" (resolved against the query range at eval time)
    at_ts: int | str | None = None


@dataclass
class TimeFn:
    """time(): the eval-step timestamp as a scalar (upstream returns the
    evaluation time, not the sample time)."""


@dataclass
class TimeComponentFn:
    """minute/hour/day_of_*/month/year(v): calendar component of the
    sample VALUES read as UTC epoch seconds; 0-arg form = component of
    the evaluation timestamp (upstream functions.go dateWrapper)."""

    fn: str
    expr: object | None = None  # None -> time()


@dataclass
class ScalarFn:
    """scalar(v): the single sample's value per step, NaN when the
    vector has != 1 series (upstream funcScalar). Joined on t only."""

    expr: object


@dataclass
class VectorFn:
    """vector(s): scalar literal lifted to a labelless one-series vector
    (the `... or vector(0)` idiom)."""

    value: float


@dataclass
class SortFn:
    """sort(v) / sort_desc(v): presentation-level ordering of an instant
    vector by sample value (upstream funcSort/funcSortDesc). Evaluation
    passes through; the API layer orders the serialized result —
    DataFrames are unordered sets, so ordering belongs at the edge."""

    expr: object
    desc: bool = False


@dataclass
class TimestampFn:
    """timestamp(v): the newest sample's own timestamp as the value
    (upstream funcTimestamp); metric name dropped."""

    selector: object


@dataclass
class Subquery:
    """`expr[window:resolution]` — the inner expression evaluated on its
    own grid (multiples of `resolution` in absolute time, upstream
    alignment), whose output samples feed the enclosing range function."""

    expr: object
    resolution: int | None = None  # None -> the outer query's step
    offset: int = 0
    at_ts: int | str | None = None  # `@` modifier (see VectorSelector)


@dataclass
class RangeFn:
    fn: str
    selector: object  # VectorSelector | Subquery
    window: int  # seconds
    param: float | None = None  # predict_linear horizon / phi / sf
    param2: float | None = None  # holt_winters tf


@dataclass
class AbsentFn:
    selector: VectorSelector
    #: absent_over_time window in seconds; None = instant absent()
    #: with the lookback-delta staleness window
    window: int | None = None


@dataclass
class HistogramQuantile:
    phi: float
    expr: object


@dataclass
class MathFn:
    fn: str
    expr: object
    scalar: float | None = None  # clamp bound / round nearest
    scalar2: float | None = None  # clamp upper bound


@dataclass
class LabelFn:
    fn: str  # label_replace | label_join
    expr: object
    dst: str = ""
    args: tuple = ()  # replace: (replacement, src, regex); join: (sep, *srcs)


@dataclass
class Aggregate:
    op: str
    expr: object
    grouping: list[str] = field(default_factory=list)
    without: bool = False
    param: float | None = None  # topk/bottomk k, quantile phi
    str_param: str | None = None  # count_values destination label


@dataclass
class BinOp:
    op: str  # + - * / or a comparison (> < >= <= == !=)
    expr: object
    scalar: float
    scalar_on_left: bool = False
    bool_mode: bool = False  # comparison with the `bool` modifier -> 0/1


@dataclass
class VecBinOp:
    """vector <op> vector with one-to-one matching on identical label
    sets (minus __name__). Upstream on()/ignoring()/group_* modifiers are
    not implemented — the default matching rule only."""

    op: str  # + - * / or a comparison (> < >= <= == !=)
    left: object
    right: object
    bool_mode: bool = False
    #: on(...) restricts the match key to these labels; ignoring(...)
    #: removes them from it. None = default (all labels minus __name__).
    match_on: tuple | None = None
    match_ignoring: tuple | None = None
    #: many-to-one matching: 'left' (group_left) means the LEFT side is
    #: the many side; group_labels are copied from the one side. No
    #: many-to-many detection (upstream errors; here extra pairs join).
    group_side: str | None = None
    group_labels: tuple = ()


# ---- parser -------------------------------------------------------------

_IDENT_RE = re.compile(r"[a-zA-Z_:][a-zA-Z0-9_:]*")
_LABEL_RE = re.compile(r"[a-zA-Z_][a-zA-Z0-9_]*")
_NUMBER_RE = re.compile(r"[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?")
_MATCHER_RE = re.compile(
    r'\s*([a-zA-Z_][a-zA-Z0-9_]*)\s*(=~|!~|!=|=)\s*"((?:[^"\\]|\\.)*)"\s*(,|\})'
)


class _Parser:
    #: nesting bound (upstream promql/parser caps AST depth similarly):
    #: each level of (...) / f(...) / unary recurses ~10 Python frames,
    #: so an unbounded expression would die as RecursionError — which the
    #: HTTP layer cannot map to the 400 a parse error owes. 64 levels is
    #: far beyond real queries and ~stack-safe at the default limit.
    MAX_DEPTH = 64

    def __init__(self, s: str):
        self.s = s
        self.i = 0
        self.depth = 0

    def _ws(self):
        while self.i < len(self.s) and self.s[self.i].isspace():
            self.i += 1

    def _peek(self) -> str:
        self._ws()
        return self.s[self.i] if self.i < len(self.s) else ""

    def _expect(self, ch: str):
        if self._peek() != ch:
            raise PromQLError(
                f"parse error at {self.i}: expected {ch!r} in {self.s!r}"
            )
        self.i += 1

    def _ident(self) -> str | None:
        self._ws()
        m = _IDENT_RE.match(self.s, self.i)
        if m is None:
            return None
        self.i = m.end()
        return m.group(0)

    def _number(self) -> float | None:
        self._ws()
        m = _NUMBER_RE.match(self.s, self.i)
        if m is None:
            return None
        self.i = m.end()
        return float(m.group(0))

    # grammar entry
    def parse(self):
        node = self._expr()
        self._ws()
        if self.i != len(self.s):
            raise PromQLError(
                f"parse error: trailing input at {self.i} in {self.s!r}"
            )
        return node

    _BINOP_RE = re.compile(r"==|!=|>=|<=|[+\-*/%^><]")
    _COMPARISONS = {"==", "!=", ">", "<", ">=", "<="}
    #: upstream operator precedence (promql docs: ^ > * / % > + - >
    #: comparisons > and/unless > or); higher binds tighter
    _PREC = {
        "or": 1, "and": 2, "unless": 2,
        "==": 3, "!=": 3, "<=": 3, "<": 3, ">=": 3, ">": 3,
        "+": 4, "-": 4, "*": 5, "/": 5, "%": 5, "^": 6,
        "atan2": 5,  # word-spelled arithmetic op, binds like * (upstream)
    }
    _SET_OPS = ("and", "or", "unless")

    def _binop_token(self) -> str | None:
        self._ws()
        m = self._BINOP_RE.match(self.s, self.i)
        if m is None:
            return None
        self.i = m.end()
        return m.group(0)

    def _bool_opt(self, op: str) -> bool:
        save = self.i
        if self._ident() == "bool":
            if op not in self._COMPARISONS:
                raise PromQLError("bool modifier only allowed on comparisons")
            return True
        self.i = save
        return False

    def _expr(self):
        node = self._binary(1)
        if isinstance(node, float):
            raise PromQLError("expression does not produce an instant vector")
        return node

    def _binary(self, min_prec: int):
        """Precedence-climbing binary-expression parser. Scalar literals
        flow through as plain floats (folded on the spot when both sides
        are scalar); everything else is an AST node."""
        self.depth += 1
        if self.depth > self.MAX_DEPTH:
            raise PromQLError(
                f"expression nested deeper than {self.MAX_DEPTH} levels"
            )
        try:
            return self._binary_inner(min_prec)
        finally:
            self.depth -= 1

    def _binary_inner(self, min_prec: int):
        node = self._operand()
        while True:
            save = self.i
            word = self._ident()
            if word in self._SET_OPS or word == "atan2":
                op = word
            else:
                self.i = save
                op = self._binop_token()
            if op is None or self._PREC[op] < min_prec:
                self.i = save
                break
            node = self._binop_rhs(op, node)
        return node

    def _operand(self):
        self._ws()
        ch = self._peek()
        if ch and ch in "+-":
            # unary sign: scalar -> folded; vector -> (+-1) * v (upstream
            # unary minus semantics: values negated, metric name dropped).
            # Upstream gives unary the precedence of * — BELOW ^ — so the
            # operand climbs through ^ first: -2^2 == -(2^2) == -4
            self.i += 1
            inner = self._binary(self._PREC["^"])
            if ch == "+":
                return inner
            if isinstance(inner, float):
                return -inner
            return BinOp("*", inner, -1.0, scalar_on_left=True)
        num = self._number()
        if num is not None:
            return num
        if ch == "(":
            self.i += 1
            node = self._binary(1)
            self._expect(")")
            return node
        return self._primary()

    def _binop_rhs(self, op: str, left):
        is_set = op in self._SET_OPS
        bool_mode = False if is_set else self._bool_opt(op)
        match_on = match_ignoring = None
        group_side, group_labels = None, ()
        save = self.i
        word = self._ident()
        if word in ("on", "ignoring"):
            labels_ = tuple(self._label_list())
            if word == "on":
                match_on = labels_
            else:
                match_ignoring = labels_
            if not is_set:
                save2 = self.i
                word2 = self._ident()
                if word2 in ("group_left", "group_right"):
                    group_side = "left" if word2 == "group_left" else "right"
                    if self._peek() == "(":
                        group_labels = tuple(self._label_list())
                else:
                    self.i = save2
        else:
            self.i = save
        prec = self._PREC[op]
        # ^ is right-associative upstream; all others left
        right = self._binary(prec if op == "^" else prec + 1)
        return self._combine(op, left, right, bool_mode, match_on,
                             match_ignoring, group_side, group_labels)

    def _combine(self, op, left, right, bool_mode, match_on,
                 match_ignoring, group_side, group_labels):
        lnum = isinstance(left, float)
        rnum = isinstance(right, float)
        if op in self._SET_OPS:
            if lnum or rnum:
                raise PromQLError(
                    f'set operator "{op}" not allowed in binary scalar '
                    f"expression"
                )
            return VecBinOp(op, left, right, match_on=match_on,
                            match_ignoring=match_ignoring)
        if (lnum or rnum) and (match_on is not None or match_ignoring is not None):
            raise PromQLError("on/ignoring modifiers need vector operands")
        if lnum and rnum:
            return _scalar_fold(op, left, right, bool_mode)
        if lnum:
            return BinOp(op, right, left, scalar_on_left=True,
                         bool_mode=bool_mode)
        if rnum:
            return BinOp(op, left, right, bool_mode=bool_mode)
        return VecBinOp(op, left, right, bool_mode=bool_mode,
                        match_on=match_on, match_ignoring=match_ignoring,
                        group_side=group_side, group_labels=group_labels)

    def _primary(self):
        ch = self._peek()
        if ch == "(":
            self.i += 1
            node = self._expr()
            self._expect(")")
            return node
        if ch == "{":
            sel = VectorSelector(self._matchers(None))
            sel.offset, sel.at_ts = self._mods_opt()
            return sel
        name = self._ident()
        if name is None:
            raise PromQLError(f"parse error at {self.i} in {self.s!r}")
        if name == "atan2":  # reserved keyword upstream: never a metric name
            raise PromQLError(f"unexpected keyword 'atan2' at {self.i}")
        if name in AGG_OPS:
            return self._agg(name)
        if name in RANGE_FNS:
            self._expect("(")
            lead = None
            if name in RANGE_FNS_LEADING_SCALAR:
                lead = self._number()
                if lead is None:
                    raise PromQLError(f"{name} expects a scalar first argument")
                self._expect(",")
            inner = self._expr()
            self._expect("[")
            window = self._duration_token()
            if self._peek() == ":":
                self.i += 1
                res = None
                if self._peek() != "]":
                    res = self._duration_token()
                self._expect("]")
                sel = Subquery(inner, res)
                sel.offset, sel.at_ts = self._mods_opt()
            else:
                self._expect("]")
                if not isinstance(inner, VectorSelector):
                    raise PromQLError(
                        "range selector needs a plain vector selector; "
                        "use a subquery `expr[w:r]` for expressions"
                    )
                inner.offset, inner.at_ts = self._mods_opt()
                sel = inner
            params = []
            while self._peek() == ",":
                self.i += 1
                pnum = self._number()
                if pnum is None:
                    raise PromQLError(f"{name} expects a scalar argument")
                params.append(pnum)
            if name in RANGE_FNS_SCALAR and not params:
                raise PromQLError(f"{name} expects a scalar second argument")
            if name == "double_exponential_smoothing":
                name = "holt_winters"  # upstream 3.x rename, same eval
            if name == "holt_winters" and len(params) != 2:
                raise PromQLError(
                    "holt_winters expects (v, smoothing_factor, trend_factor)"
                )
            param = lead if lead is not None else (params[0] if params else None)
            param2 = params[1] if len(params) > 1 else None
            node = RangeFn(name, sel, window, param, param2)
            self._expect(")")
            return node
        if name == "time":
            self._expect("(")
            self._expect(")")
            return TimeFn()
        if name == "absent":
            self._expect("(")
            sel = self._selector()
            sel.offset, sel.at_ts = self._mods_opt()
            self._expect(")")
            return AbsentFn(sel)
        if name == "absent_over_time":
            self._expect("(")
            sel = self._selector()
            self._expect("[")
            window = self._duration_token()
            self._expect("]")
            sel.offset, sel.at_ts = self._mods_opt()
            self._expect(")")
            return AbsentFn(sel, window)
        if name == "timestamp":
            self._expect("(")
            sel = self._selector()
            sel.offset, sel.at_ts = self._mods_opt()
            self._expect(")")
            return TimestampFn(sel)
        if name == "scalar":
            self._expect("(")
            inner = self._expr()
            self._expect(")")
            return ScalarFn(inner)
        if name in ("sort", "sort_desc"):
            self._expect("(")
            inner = self._expr()
            self._expect(")")
            return SortFn(inner, desc=name == "sort_desc")
        if name == "vector":
            self._expect("(")
            self._ws()
            m = _NUMBER_RE.match(self.s, self.i)
            neg = False
            if m is None and self._peek() == "-":
                self.i += 1
                self._ws()
                m = _NUMBER_RE.match(self.s, self.i)
                neg = True
            if m is None:
                raise PromQLError(
                    "vector() supports scalar literal arguments only"
                )
            self.i = m.end()
            self._expect(")")
            v = float(m.group(0))
            return VectorFn(-v if neg else v)
        if name in TIME_COMPONENT_FNS:
            self._expect("(")
            if self._peek() == ")":
                self.i += 1
                return TimeComponentFn(name)
            inner = self._expr()
            self._expect(")")
            return TimeComponentFn(name, inner)
        if name == "pi":
            self._expect("(")
            self._expect(")")
            return math.pi  # scalar literal: folds through _combine
        if name == "histogram_quantile":
            self._expect("(")
            phi = self._number()
            if phi is None:
                raise PromQLError(
                    "histogram_quantile expects a scalar first argument"
                )
            self._expect(",")
            inner = self._expr()
            self._expect(")")
            return HistogramQuantile(phi, inner)
        if name in MATH_FNS:
            self._expect("(")
            inner = self._expr()
            scalars = []
            while self._peek() == ",":
                self.i += 1
                sc = self._number()
                if sc is None:
                    raise PromQLError(f"{name} expects a scalar argument")
                scalars.append(sc)
            if name in MATH_FNS_SCALAR and not scalars:
                raise PromQLError(f"{name} expects a scalar second argument")
            if name == "clamp" and len(scalars) != 2:
                raise PromQLError("clamp expects (v, min, max)")
            self._expect(")")
            return MathFn(name, inner, *scalars[:2])
        if name in ("label_replace", "label_join"):
            self._expect("(")
            inner = self._expr()
            strs = []
            while self._peek() == ",":
                self.i += 1
                strs.append(self._string())
            self._expect(")")
            if name == "label_replace" and len(strs) != 4:
                raise PromQLError(
                    "label_replace expects (v, dst, replacement, src, regex)"
                )
            if name == "label_join" and len(strs) < 2:
                raise PromQLError(
                    "label_join expects (v, dst, separator, src...)"
                )
            if not _LABEL_RE.fullmatch(strs[0]):
                raise PromQLError(f"invalid destination label: {strs[0]!r}")
            return LabelFn(name, inner, strs[0], tuple(strs[1:]))
        # plain selector starting with a metric name
        if self._peek() == "(":
            raise PromQLError(f"unsupported function: {name}")
        sel = VectorSelector(self._matchers(name))
        sel.offset, sel.at_ts = self._mods_opt()
        return sel

    def _agg(self, op: str):
        grouping, without = None, False
        mod = None
        save = self.i
        word = self._ident()
        if word in ("by", "without"):
            mod = word
        else:
            self.i = save
        if mod is not None:
            grouping, without = self._label_list(), mod == "without"
        self._expect("(")
        param = None
        str_param = None
        if op in PARAM_AGG_OPS:
            param = self._number()
            if param is None:
                raise PromQLError(f"{op} expects a scalar first argument")
            self._expect(",")
        elif op == "count_values":
            str_param = self._string()
            if not _LABEL_RE.fullmatch(str_param):
                raise PromQLError(f"invalid label name: {str_param!r}")
            self._expect(",")
        inner = self._expr()
        self._expect(")")
        if grouping is None:
            save = self.i
            word = self._ident()
            if word in ("by", "without"):
                grouping, without = self._label_list(), word == "without"
            else:
                self.i = save
        return Aggregate(op, inner, grouping or [], without, param, str_param)

    _STRING_RE = re.compile(r'"((?:[^"\\]|\\.)*)"')

    def _string(self) -> str:
        self._ws()
        m = self._STRING_RE.match(self.s, self.i)
        if m is None:
            raise PromQLError(f"expected string literal at {self.i}")
        self.i = m.end()
        return _unquote(m.group(1))

    _DUR_TOKEN = re.compile(r"-?[0-9][0-9a-z.]*")

    def _offset_opt(self) -> int:
        """Optional `offset <duration>` modifier (negative allowed, as
        upstream)."""
        save = self.i
        word = self._ident()
        if word != "offset":
            self.i = save
            return 0
        self._ws()
        m = self._DUR_TOKEN.match(self.s, self.i)
        if m is None:
            raise PromQLError(f"offset expects a duration at {self.i}")
        self.i = m.end()
        tok = m.group(0)
        if tok.startswith("-"):
            return -parse_duration(tok[1:])
        return parse_duration(tok)

    def _at_opt(self) -> int | str | None:
        """Optional `@ <unix-ts>` / `@ start()` / `@ end()` modifier."""
        if self._peek() != "@":
            return None
        self.i += 1
        save = self.i
        word = self._ident()
        if word in ("start", "end"):
            self._expect("(")
            self._expect(")")
            return word
        self.i = save
        self._ws()
        m = re.match(r"-?[0-9]+(\.[0-9]+)?", self.s[self.i:])
        if m is None:
            raise PromQLError(f"@ expects a timestamp at {self.i}")
        self.i += m.end()
        return int(float(m.group(0)))

    def _mods_opt(self) -> tuple[int, int | str | None]:
        """`offset` and `@` selector modifiers, any order (upstream
        allows both orderings); at most one of each."""
        offset, at_ts = 0, None
        saw_offset = saw_at = False
        while True:
            save = self.i
            if self._peek() == "@" and not saw_at:
                at_ts = self._at_opt()
                saw_at = True
                continue
            word = self._ident()
            self.i = save
            if word == "offset" and not saw_offset:
                offset = self._offset_opt()
                saw_offset = True
                continue
            break
        return offset, at_ts

    def _label_list(self) -> list[str]:
        self._expect("(")
        out = []
        while True:
            if self._peek() == ")":
                self.i += 1
                return out
            self._ws()
            m = _LABEL_RE.match(self.s, self.i)
            if m is None:
                raise PromQLError(f"parse error in grouping at {self.i}")
            out.append(m.group(0))
            self.i = m.end()
            if self._peek() == ",":
                self.i += 1

    def _selector(self) -> VectorSelector:
        ch = self._peek()
        if ch == "{":
            return VectorSelector(self._matchers(None))
        name = self._ident()
        if name is None:
            raise PromQLError(f"expected selector at {self.i} in {self.s!r}")
        return VectorSelector(self._matchers(name))

    def _matchers(self, name: str | None) -> list[LabelMatcher]:
        out: list[LabelMatcher] = []
        if name:
            out.append(LabelMatcher("__name__", "=", name))
        self._ws()
        if self.i < len(self.s) and self.s[self.i] == "{":
            self.i += 1
            self._ws()
            if self.i < len(self.s) and self.s[self.i] == "}":
                self.i += 1
            else:
                while True:
                    m = _MATCHER_RE.match(self.s, self.i)
                    if m is None:
                        raise PromQLError(
                            f"invalid matcher at {self.i} in {self.s!r}"
                        )
                    out.append(LabelMatcher(
                        m.group(1), m.group(2), _unquote(m.group(3)),
                    ))
                    self.i = m.end()
                    if m.group(4) == "}":
                        break
        if not out:
            raise PromQLError("vector selector must contain at least one matcher")
        return out

    def _duration_token(self) -> int:
        self._ws()
        j = self.i
        while j < len(self.s) and self.s[j] not in "]:":
            j += 1
        dur = parse_duration(self.s[self.i:j])
        self.i = j
        return dur


def parse_promql(expr: str):
    """Parse the supported PromQL subset; PromQLError (HTTP 400) on
    anything outside it."""
    return _Parser(expr).parse()


# ---- evaluation ---------------------------------------------------------


def _canon(labels: F.Column) -> F.Column:
    """Canonical group key: sorted `k=v` strings (maps are not directly
    groupable/orderable in Spark; an array<string> is). Single-F.expr
    when given a plain column name: this runs per HTTP request on the
    GIL-serialized driver thread, where chatty per-Column py4j calls cap
    concurrent query throughput (r6 latency profile)."""
    if isinstance(labels, str):
        return F.expr(
            f"array_sort(transform(map_entries({labels}), "
            f"e -> concat(e.key, '=', e.value)))"
        )
    return F.array_sort(
        F.transform(
            F.map_entries(labels),
            lambda e: F.concat(e.getField("key"), F.lit("="), e.getField("value")),
        )
    )


def _drop_name(labels: F.Column) -> F.Column:
    return F.map_filter(labels, lambda k, _: k != "__name__")


def _eval_indices(time_col: F.Column, start: int, step: int, window: int,
                  n_evals: int) -> tuple[F.Column, F.Column]:
    """Eval-step index range [j_min, j_max] a sample at `time_col` serves,
    for membership `p in (t_j - window, t_j]`: j >= ceil((p-start)/step)
    and j <= ceil((p+window-start)/step) - 1. Integer-exact (no doubles):
    ceil(x/s) for possibly-negative x as floor((x + s - 1) / s) via
    `div` on a shifted non-negative numerator.
    """
    # ceil-div on integers; numerators are guarded non-negative (samples
    # passed the `p > start - window` filter), so truncating division is
    # floor division and `(x + step - 1) / step` is an exact ceil.
    j_min = F.when(
        time_col <= F.lit(start), F.lit(0)
    ).otherwise(
        F.floor((time_col - F.lit(start) + F.lit(step) - 1) / F.lit(step)).cast("int")
    )
    j_max_raw = (
        F.floor((time_col + F.lit(window) - F.lit(start) + F.lit(step) - 1) / F.lit(step))
        .cast("int") - 1
    )
    j_max = F.least(j_max_raw, F.lit(n_evals - 1))
    return F.greatest(j_min, F.lit(0)), j_max


def _explode_to_grid(pts: DataFrame, start: int, step: int, window: int,
                     n_evals: int) -> DataFrame:
    """points(path, tags, time, value[, version]) -> one row per
    (sample, eval index j) with j in the sample's service range.

    Built as two F.expr strings (the _eval_indices math inlined
    verbatim) — request-time plan-build cost, same driver-thread py4j
    rationale as _canon."""
    start, step, window = int(start), int(step), int(window)
    jmin = (
        f"greatest(CASE WHEN time <= {start} THEN 0 "
        f"ELSE cast(floor((time - {start} + {step} - 1) / {step}) AS int) "
        f"END, 0)"
    )
    jmax = (
        f"least(cast(floor((time + {window} - {start} + {step} - 1) / "
        f"{step}) AS int) - 1, {int(n_evals) - 1})"
    )
    return (
        pts.withColumn("j_min", F.expr(jmin))
        .withColumn("j_max", F.expr(jmax))
        .where("j_min <= j_max")
        .withColumn("j", F.expr("explode(sequence(j_min, j_max))"))
        .drop("j_min", "j_max")
    )


def _grid_time(start: int, step: int) -> F.Column:
    return F.expr(f"{int(start)} + cast(j AS long) * {int(step)}").alias("t")


class Evaluator:
    """Evaluates a parsed PromQL AST over tagged points at an eval grid
    t_j = start + j*step, j in [0, n_evals). Result frame:
    (labels map<string,string>, t long, value double)."""

    def __init__(self, tagged: DataFrame, start: int, end: int, step: int,
                 lookback: int = DEFAULT_LOOKBACK):
        if end < start:
            raise PromQLError("end timestamp must not be before start time")
        if step <= 0:
            raise PromQLError("zero or negative query resolution step")
        self.tagged = tagged
        self.start, self.end, self.step = int(start), int(end), int(step)
        self.lookback = int(lookback)
        self.n_evals = (self.end - self.start) // self.step + 1
        if self.n_evals > MAX_RESOLUTION:
            raise PromQLError(
                "exceeded maximum resolution of 11,000 points per timeseries"
            )

    # -- sources

    def _points(self, sel: VectorSelector, window: int) -> DataFrame:
        """Matching samples in the (offset-shifted) query window. With an
        offset o, a sample at p behaves exactly like a sample at p + o
        against the unshifted grid — so shift the scan filter into the
        past and re-emit `time` shifted; everything downstream (grid
        explode, rate boundaries) is then offset-oblivious."""
        pred = tagged_predicate(terms_from_matchers(sel.matchers), F.col("tags"))
        o = int(getattr(sel, "offset", 0))
        from .prometheus import decoded_tags

        # matching ran on the RAW stored tags; the label sets the
        # evaluator carries (grouping keys, output series) are the
        # prometheus view, which URL-decodes (labels.go:28-50).
        # Single where-string + select (request-path py4j economy,
        # same rationale as _explode_to_grid)
        return self.tagged.filter(pred).where(
            f"time > {self.start - window - o} AND time <= {self.end - o}"
        ).select(
            "path",
            decoded_tags("tags").alias("tags"),
            (F.expr(f"time + {o}") if o else F.col("time")).alias("time"),
            "value",
            "version",
        )

    def _dedup(self, pts: DataFrame) -> DataFrame:
        """ReplacingMergeTree read-side dedup: per (path, time) keep the
        max-version sample (same contract as operators.dedup)."""
        return pts.groupBy("path", "time").agg(
            F.expr("max(struct(version AS v, value AS x)).x AS value"),
            F.expr("first(tags) AS tags"),
        )

    # -- node dispatch

    def eval(self, node) -> DataFrame:
        if isinstance(node, VectorSelector):
            return self._eval_selector(node)
        if isinstance(node, RangeFn):
            return self._eval_range_fn(node)
        if isinstance(node, Aggregate):
            return self._eval_agg(node)
        if isinstance(node, BinOp):
            return self._eval_bin(node)
        if isinstance(node, AbsentFn):
            return self._eval_absent(node)
        if isinstance(node, HistogramQuantile):
            return self._eval_histogram_quantile(node)
        if isinstance(node, MathFn):
            return self._eval_math(node)
        if isinstance(node, LabelFn):
            return self._eval_label(node)
        if isinstance(node, VecBinOp):
            return self._eval_vec_bin(node)
        if isinstance(node, TimeComponentFn):
            return self._eval_time_component(node)
        if isinstance(node, ScalarFn):
            return self._eval_scalar_fn(node)
        if isinstance(node, VectorFn):
            return self._grid_frame(F.lit(float(node.value)))
        if isinstance(node, TimestampFn):
            return self._eval_timestamp(node)
        if isinstance(node, SortFn):
            return self.eval(node.expr)  # ordering applied at the API edge
        raise PromQLError(f"unsupported expression node: {node!r}")

    def _grid_frame(self, value) -> DataFrame:
        """One labelless row per eval step with the given value Column
        (`value` may reference the step column `t`)."""
        spark = self.tagged.sparkSession
        return spark.range(self.n_evals).select(
            F.expr("cast(map() as map<string,string>)").alias("labels"),
            (F.lit(self.start) + F.col("id") * F.lit(self.step))
            .cast("long").alias("t"),
        ).select("labels", "t", value.cast("double").alias("value"))

    def _eval_time_component(self, node: TimeComponentFn) -> DataFrame:
        comp = _time_component_col(node.fn)
        if node.expr is None:
            return self._grid_frame(comp(F.col("t").cast("double")))
        child = self.eval(node.expr)
        return child.select(
            _drop_name(F.col("labels")).alias("labels"), "t",
            comp(F.col("value")).alias("value"),
        )

    def _eval_scalar_fn(self, node: ScalarFn) -> DataFrame:
        """Per step: the single sample's value, NaN when the vector has
        any other cardinality (funcScalar). Labelless rows on the full
        grid so downstream t-joins see every step."""
        child = self.eval(node.expr)
        per_t = child.groupBy("t").agg(
            F.count("*").alias("__n"), F.max("value").alias("__v")
        )
        return (
            self._grid_frame(F.lit(0.0)).select("labels", "t")
            .join(per_t, "t", "left")
            .select(
                "labels", "t",
                F.when(F.col("__n") == 1, F.col("__v"))
                .otherwise(F.lit(float("nan"))).alias("value"),
            )
        )

    def _eval_timestamp(self, node: TimestampFn) -> DataFrame:
        """Newest-sample timestamp as the value (funcTimestamp); same
        plan as the selector with the aggregate reading `time`."""
        sel = node.selector
        if sel.at_ts is not None:
            from dataclasses import replace as _dc_replace

            pinned = self._pinned(sel.at_ts)
            return self._fan_out(pinned._eval_timestamp(
                TimestampFn(_dc_replace(sel, at_ts=None))
            ))
        pts = self._points(sel, self.lookback).repartition("path")
        ex = _explode_to_grid(pts, self.start, self.step, self.lookback,
                              self.n_evals)
        w = F.struct("time", "version", F.col("value").alias("x"))
        return (
            ex.groupBy("path", "j")
            .agg(F.max(w).getField("time").cast("double").alias("value"),
                 F.first("tags").alias("labels"))
            .select(
                _drop_name(F.col("labels")).alias("labels"),
                _grid_time(self.start, self.step), F.col("value"),
            )
        )

    # -- selector: newest sample in (t - lookback, t]

    def _resolve_at(self, at_ts: int | str) -> int:
        """`@` timestamp: literal epoch seconds, or start()/end() of the
        query range (upstream preprocessExpr semantics)."""
        if at_ts == "start":
            return self.start
        if at_ts == "end":
            return self.end
        return int(at_ts)

    def _fan_out(self, single: DataFrame) -> DataFrame:
        """Replicate a single pinned evaluation across this grid: an `@`
        selector's value is the same at every output step. One explode of
        an n_evals-element sequence per series — no shuffle."""
        grid_end = self.start + (self.n_evals - 1) * self.step
        steps = F.explode(
            F.sequence(
                F.lit(int(self.start)), F.lit(int(grid_end)),
                F.lit(int(self.step)),
            )
        ).alias("t")
        return single.select("labels", steps, "value")

    def _pinned(self, at_ts: int | str):
        """Single-step evaluator at the resolved @ timestamp."""
        T = self._resolve_at(at_ts)
        return Evaluator(self.tagged, T, T, self.step, self.lookback)

    def _eval_selector(self, node: VectorSelector) -> DataFrame:
        if node.at_ts is not None:
            from dataclasses import replace as _dc_replace

            pinned = self._pinned(node.at_ts)
            return self._fan_out(
                pinned._eval_selector(_dc_replace(node, at_ts=None))
            )
        # repartition on path BEFORE the grid explode: hash clustering on
        # `path` satisfies the (path, j) aggregation, so the one shuffle
        # ships RAW samples (1x), not exploded rows (lookback/step x)
        pts = self._points(node, self.lookback).repartition("path")
        ex = _explode_to_grid(pts, self.start, self.step, self.lookback,
                              self.n_evals)
        # newest sample wins; version breaks exact-time ties (write-version
        # semantics, helper/point/func.go:29-51) — one hash agg, no window
        w = F.struct("time", "version", F.col("value").alias("x"))
        return (
            ex.groupBy("path", "j")
            .agg(F.max(w).getField("x").alias("value"),
                 F.first("tags").alias("labels"))
            .select("labels", _grid_time(self.start, self.step),
                    F.col("value"))
        )

    # -- range functions

    _SIMPLE_OVER_TIME = {
        "avg_over_time": lambda: F.avg("value"),
        "sum_over_time": lambda: F.sum("value"),
        "min_over_time": lambda: F.min("value"),
        "max_over_time": lambda: F.max("value"),
        "count_over_time": lambda: F.count("value").cast("double"),
        "stddev_over_time": lambda: F.stddev_pop("value"),
        "stdvar_over_time": lambda: F.var_pop("value"),
        # groups only exist where >= 1 sample landed in the window
        "present_over_time": lambda: F.max(F.lit(1.0)),
    }

    def _subquery_samples(self, sub: Subquery, window: int) -> DataFrame:
        """Inner expression evaluated at multiples of its resolution
        (absolute-time alignment, upstream subquery semantics); the
        result rows become the samples the enclosing range function
        consumes. Already deduped by construction — one row per
        (series, inner step)."""
        res = int(sub.resolution or self.step)
        o = int(sub.offset)
        lo = self.start - window - o
        t0 = (lo // res) * res + res  # smallest multiple of res > lo
        t1 = ((self.end - o) // res) * res
        if t1 < t0:
            return self.tagged.sparkSession.range(0).select(
                F.lit("").alias("path"),
                F.expr("cast(map() as map<string,string>)").alias("tags"),
                F.lit(0).cast("long").alias("time"),
                F.lit(0.0).alias("value"),
            )
        inner = Evaluator(self.tagged, t0, t1, res, self.lookback).eval(sub.expr)
        return inner.select(
            F.array_join(_canon("labels"), ",").alias("path"),
            F.col("labels").alias("tags"),
            (F.col("t") + F.lit(o)).alias("time"),
            "value",
        )

    def _eval_range_fn(self, node: RangeFn) -> DataFrame:
        at_ts = getattr(node.selector, "at_ts", None)
        if at_ts is not None:
            # `rate(m[5m] @ T)`: every step's window anchors at T — one
            # pinned evaluation fanned out across the grid
            from dataclasses import replace as _dc_replace

            pinned = self._pinned(at_ts)
            sel = _dc_replace(node.selector, at_ts=None)
            return self._fan_out(
                pinned._eval_range_fn(_dc_replace(node, selector=sel))
            )
        if isinstance(node.selector, Subquery):
            pts = self._subquery_samples(node.selector, node.window)
        else:
            # one shuffle total: hash clustering on `path` satisfies BOTH
            # the (path, time) dedup and the (path, j) window aggregation,
            # and it ships raw samples instead of exploded grid rows
            pts = self._dedup(
                self._points(node.selector, node.window).repartition("path")
            )
        ex = _explode_to_grid(pts, self.start, self.step, node.window,
                              self.n_evals)
        g = ex.groupBy("path", "j")
        if node.fn in self._SIMPLE_OVER_TIME:
            out = g.agg(
                self._SIMPLE_OVER_TIME[node.fn]().alias("value"),
                F.first("tags").alias("labels"),
            )
        elif node.fn == "last_over_time":
            out = g.agg(F.max_by("value", "time").alias("value"),
                        F.first("tags").alias("labels"))
        elif node.fn == "quantile_over_time":
            phi = float(node.param if node.param is not None else 0.0)
            if phi < 0 or phi > 1:
                raise PromQLError("quantile phi must be in [0, 1]")
            out = g.agg(
                F.percentile("value", F.lit(phi)).alias("value"),
                F.first("tags").alias("labels"),
            )
        elif node.fn == "holt_winters":
            out = self._holt_winters(g, node)
        elif node.fn in ("deriv", "predict_linear"):
            out = self._deriv(g, node)
        elif node.fn in ("changes", "resets"):
            out = self._fold_count(g, node.fn)
        else:
            out = self._rate_family(g, node)
        drop = node.fn not in ("last_over_time",)
        labels = _drop_name(F.col("labels")) if drop else F.col("labels")
        return out.select(labels.alias("labels"),
                          _grid_time(self.start, self.step), "value")

    def _deriv(self, grouped, node: RangeFn) -> DataFrame:
        """deriv() / predict_linear(): per-window least-squares fit
        (upstream promql/functions.go linearRegression). x is centered on
        the query start so the sums stay in exact double range
        (epoch-squared sums would not). predict_linear extrapolates the
        fit `param` seconds past each eval timestamp."""
        x = (F.col("time") - F.lit(self.start)).cast("double")
        y = F.col("value")
        agg = grouped.agg(
            F.count("*").alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * y).alias("sxy"),
            F.sum(x * x).alias("sxx"),
            F.first("tags").alias("labels"),
        ).filter(F.col("n") >= 2)
        n = F.col("n").cast("double")
        denom = n * F.col("sxx") - F.col("sx") * F.col("sx")
        slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
        value = slope
        if node.fn == "predict_linear":
            # predicted value at (eval time + horizon):
            # y_bar + slope * (x_pred - x_bar), in start-centered x space
            x_pred = (
                (F.col("j").cast("long") * F.lit(self.step)).cast("double")
                + F.lit(float(node.param or 0.0))
            )
            value = (F.col("sy") / n) + slope * (x_pred - F.col("sx") / n)
        return agg.filter(denom != 0).select(
            "path", "j", "labels", value.alias("value")
        )

    def _holt_winters(self, grouped, node: RangeFn) -> DataFrame:
        """holt_winters (double exponential smoothing, upstream
        promql/functions.go funcHoltWinters): s0 = x0, b0 = x1 - x0;
        s' = sf*x + (1-sf)*(s + b); b' = tf*(s' - s) + (1-tf)*b; the
        smoothed level after the last sample is returned. Needs >= 2
        samples. Ordered fold over the sorted window — JVM-side."""
        sf = float(node.param)
        tf = float(node.param2)
        if not (0 < sf < 1) or not (0 < tf < 1):
            raise PromQLError(
                "holt_winters smoothing factors must be in (0, 1)"
            )
        base = grouped.agg(
            F.sort_array(
                F.collect_list(F.struct("time", "value"))
            ).alias("samples"),
            F.first("tags").alias("labels"),
        ).filter(F.size("samples") >= 2)
        # state after upstream's i=1 iteration (trend b untouched there):
        #   s0 = x0; b = x1 - x0; s1 = sf*x1 + (1-sf)*(x0 + b)
        # each further sample updates b from the two previous levels FIRST
        # (calcTrendValue), then the level from the updated trend
        value = F.expr(
            "aggregate(slice(samples, 3, size(samples) - 2), "
            "named_struct("
            "  's0', samples[0].value, "
            f" 's1', {sf} * samples[1].value + (1 - {sf}) * "
            "        (samples[0].value + (samples[1].value - samples[0].value)), "
            "  'b', samples[1].value - samples[0].value), "
            f"(st, x) -> named_struct("
            "  's0', st.s1, "
            f" 's1', {sf} * x.value + (1 - {sf}) * (st.s1 + "
            f"       ({tf} * (st.s1 - st.s0) + (1 - {tf}) * st.b)), "
            f" 'b', {tf} * (st.s1 - st.s0) + (1 - {tf}) * st.b), "
            "st -> st.s1)"
        )
        return base.select("path", "j", "labels", value.alias("value"))

    def _fold_count(self, grouped, fn: str) -> DataFrame:
        """changes() / resets(): ordered fold counting value transitions
        (single-sample windows yield 0, as upstream)."""
        cond = "x.value < st.prev" if fn == "resets" else "x.value != st.prev"
        base = grouped.agg(
            F.sort_array(F.collect_list(F.struct("time", "value"))).alias("samples"),
            F.first("tags").alias("labels"),
        )
        count = F.expr(
            "aggregate(slice(samples, 2, size(samples) - 1), "
            "named_struct('acc', cast(0.0 as double), 'prev', samples[0].value), "
            f"(st, x) -> named_struct('acc', st.acc + IF({cond}, 1.0, 0.0), "
            "'prev', x.value), st -> st.acc)"
        )
        return base.select("path", "j", "labels", count.alias("value"))

    def _rate_family(self, grouped, node: RangeFn) -> DataFrame:
        """rate / increase / delta / idelta with upstream extrapolation
        semantics (promql/functions.go extrapolatedRate / instantValue):

        - counter reset handling: any sample < previous sample adds the
          full new value instead of the difference;
        - extrapolate the sampled interval out to the window boundaries,
          but no further than half an average sample interval past the
          first/last sample; for counters additionally no further than
          the zero-crossing implied by the first sample's value;
        - rate = extrapolated increase / window seconds;
        - idelta = last - previous sample (no extrapolation).
        """
        w, step, start = node.window, self.step, self.start
        base = grouped.agg(
            F.sort_array(
                F.collect_list(F.struct("time", "value"))
            ).alias("samples"),
            F.first("tags").alias("labels"),
        ).filter(F.size("samples") >= 2)
        # The whole post-aggregation scalar block is built as SQL text
        # and parsed ONCE (r11, r10 VERDICT #9): the equivalent Column
        # chain cost ~88 ms of py4j round trips per build — measurable
        # inside the bench's timed region — while one F.expr parse is
        # ~2 ms. Same expressions, same arithmetic order; double
        # literals carry the D suffix so nothing parses as DECIMAL.
        if node.fn == "idelta":
            return base.selectExpr(
                "path", "j", "labels",
                "(element_at(samples, -1).value"
                " - element_at(samples, -2).value) AS value",
            )
        if node.fn == "irate":
            # instant rate over the last two samples, counter-reset aware
            # (promql/functions.go instantValue)
            return base.selectExpr(
                "path", "j", "labels",
                "(CASE WHEN element_at(samples, -1).value"
                "           < element_at(samples, -2).value"
                "      THEN element_at(samples, -1).value"
                "      ELSE element_at(samples, -1).value"
                "           - element_at(samples, -2).value END"
                " / cast(element_at(samples, -1).time"
                "        - element_at(samples, -2).time as double)) AS value",
            )
        if node.fn == "delta":
            raw_sql = "(element_at(samples, -1).value - samples[0].value)"
            is_counter = False
        else:
            # reset-adjusted increase: fold over samples[2:]
            raw_sql = (
                "aggregate(slice(samples, 2, size(samples) - 1), "
                "named_struct('acc', cast(0.0 as double), "
                "             'prev', samples[0].value), "
                "(st, x) -> named_struct("
                "  'acc', st.acc + IF(x.value < st.prev, x.value, "
                "                     x.value - st.prev), "
                "  'prev', x.value), "
                "st -> st.acc)"
            )
            is_counter = True

        df = base.selectExpr(
            "path", "j", "labels", f"{raw_sql} AS raw",
            "size(samples) AS cnt", "samples[0].time AS ft",
            "samples[0].value AS fv", "element_at(samples, -1).time AS lt",
        )
        range_start = f"({start}L + cast(j as long) * {step}L - {w}L)"
        range_end = f"({start}L + cast(j as long) * {step}L)"
        sampled = "cast(lt - ft as double)"
        avg_dur = f"({sampled} / cast(cnt - 1 as double))"
        threshold = f"({avg_dur} * 1.1D)"
        dur_start = f"cast(ft - {range_start} as double)"
        dur_start = (
            f"(CASE WHEN {dur_start} >= {threshold} THEN {avg_dur} / 2 "
            f"ELSE {dur_start} END)"
        )
        if is_counter:
            # never extrapolate a counter below zero
            dur_zero = f"({sampled} * (fv / raw))"
            dur_start = (
                f"(CASE WHEN raw > 0 AND fv >= 0 AND {dur_zero} < {dur_start} "
                f"THEN {dur_zero} ELSE {dur_start} END)"
            )
        dur_end = f"cast({range_end} - lt as double)"
        dur_end = (
            f"(CASE WHEN {dur_end} >= {threshold} THEN {avg_dur} / 2 "
            f"ELSE {dur_end} END)"
        )
        value = f"(raw * (({sampled} + {dur_start} + {dur_end}) / {sampled}))"
        if node.fn == "rate":
            value = f"({value} / {float(w)!r}D)"
        return df.selectExpr("path", "j", "labels", f"{value} AS value")

    # -- aggregation operators

    def _eval_agg(self, node: Aggregate) -> DataFrame:
        child = self.eval(node.expr)
        # label-set filters as ONE SQL parse each (r11, r10 VERDICT #9):
        # the Python-lambda map_filter costs ~18-22 ms of py4j lambda
        # conversion per build; the SQL text is identical semantics.
        # Label names come from the parsed PromQL grammar (identifier
        # charset), the quote-escape below is defensive only.
        keys_sql = "array({})".format(
            ", ".join("'{}'".format(k.replace("'", "\\'"))
                      for k in node.grouping)
        )
        if node.without:
            if node.grouping:
                keep = F.expr(
                    "map_filter(labels, (k, v) -> "
                    f"NOT array_contains({keys_sql}, k)"
                    " AND k != '__name__')"
                )
            else:
                # empty `without ()`: array_contains over an empty array
                # is always false, so only __name__ drops
                keep = F.expr(
                    "map_filter(labels, (k, v) -> k != '__name__')"
                )
        elif node.grouping:
            keep = F.expr(
                f"map_filter(labels, (k, v) -> array_contains({keys_sql}, k))"
            )
        else:
            keep = F.expr("cast(map() as map<string,string>)")
        if node.op == "count_values":
            # group additionally by the sample value rendered as a label
            # (integral values without a trailing .0, as FormatFloat 'f' -1)
            dst = node.str_param or "value"
            v = F.col("value")
            vstr = F.when(
                (v == F.floor(v)) & (F.abs(v) < 1e15),
                v.cast("long").cast("string"),
            ).otherwise(v.cast("string"))
            keep2 = F.map_concat(
                F.map_filter(keep, lambda k, _: k != dst),
                F.create_map(F.lit(dst), vstr),
            )
            return (
                child.withColumn("labels", keep2)
                .withColumn("gkey", _canon("labels"))
                .groupBy("gkey", "t")
                .agg(F.count("*").cast("double").alias("value"),
                     F.first("labels").alias("labels"))
                .select("labels", "t", "value")
            )
        if node.op in ("topk", "bottomk"):
            # selects k series per (group, step) but KEEPS the original
            # label sets (upstream topk/bottomk semantics); deterministic
            # tie-break on the series identity
            from pyspark.sql import Window

            k = int(node.param)
            if k <= 0:
                return child.filter(F.lit(False))
            order = (
                F.col("value").desc() if node.op == "topk"
                else F.col("value").asc()
            )
            w = Window.partitionBy("gkey", "t").orderBy(
                order, _canon("labels")
            )
            return (
                child.withColumn("gkey", _canon(keep))
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= k)
                .select("labels", "t", "value")
            )
        agg = {
            "sum": F.sum("value"),
            "avg": F.avg("value"),
            "min": F.min("value"),
            "max": F.max("value"),
            "count": F.count("value").cast("double"),
            "stddev": F.stddev_pop("value"),
            "stdvar": F.var_pop("value"),
            # group: constant 1 per populated group (upstream 2.32+)
            "group": F.max(F.lit(1.0)),
            "quantile": None,  # built below (needs phi)
        }[node.op]
        if node.op == "quantile":
            phi = float(node.param if node.param is not None else 0.0)
            if phi < 0 or phi > 1:
                raise PromQLError("quantile phi must be in [0, 1]")
            # upstream promql quantile() = linear interpolation over the
            # sorted per-group sample values == exact percentile_cont
            agg = F.percentile("value", F.lit(phi))
        return (
            child.withColumn("labels", keep)
            .withColumn("gkey", _canon("labels"))
            .groupBy("gkey", "t")
            .agg(agg.alias("value"), F.first("labels").alias("labels"))
            .select("labels", "t", "value")
        )

    # -- histogram_quantile()

    def _eval_histogram_quantile(self, node: HistogramQuantile) -> DataFrame:
        """Upstream promql/quantile.go bucketQuantile over `le`-labeled
        cumulative buckets: group series by labels-minus-le per step, sort
        buckets by upper bound, locate the rank bucket, linear-interpolate
        inside it. The +Inf bucket must be present (else NaN), phi outside
        [0,1] saturates to ±Inf — all as Column expressions over one
        sorted collect_list (no Python in the eval).

        Monotonicity repair of buggy client buckets is not reproduced."""
        child = self.eval(node.expr)
        phi = float(node.phi)
        inf = float("inf")
        if phi < 0 or phi > 1:
            sat = F.lit(-inf if phi < 0 else inf)
            return (
                child
                .withColumn("labels", F.map_filter(F.col("labels"),
                                                   lambda k, _: k != "le"))
                .withColumn("gkey", _canon("labels"))
                .groupBy("gkey", "t")
                .agg(F.first("labels").alias("labels"))
                .select("labels", "t", sat.alias("value"))
            )
        le_str = F.col("labels").getItem("le")
        le = F.when(le_str == "+Inf", F.lit(inf)).otherwise(
            le_str.cast("double")
        )
        keep = F.map_filter(F.col("labels"), lambda k, _: k != "le")
        g = (
            child.filter(le_str.isNotNull())
            .withColumn("le", le)
            .withColumn("labels", keep)
            .withColumn("gkey", _canon("labels"))
            .groupBy("gkey", "t")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("le"),
                                            F.col("value").alias("c")))
                ).alias("arr"),
                F.first("labels").alias("labels"),
            )
        )
        arr = F.col("arr")
        n = F.size(arr)
        at = lambda i: F.element_at(arr, i)  # 1-based; i may be a Column
        total = at(n).getField("c")
        rank = F.lit(phi) * total
        # 0-based index of the first bucket with cumulative count >= rank
        b = F.size(F.filter(arr, lambda x: x.getField("c") < rank))
        prev_le = F.when(b > 0, at(b).getField("le")).otherwise(F.lit(0.0))
        prev_c = F.when(b > 0, at(b).getField("c")).otherwise(F.lit(0.0))
        cur = at(b + 1)
        interp = prev_le + (cur.getField("le") - prev_le) * (
            (rank - prev_c) / (cur.getField("c") - prev_c)
        )
        nan = F.lit(float("nan"))
        value = (
            F.when((n < 2) | (at(n).getField("le") != F.lit(inf)), nan)
            .when(total <= 0, nan)
            .when(b >= n - 1, at(n - 1).getField("le"))
            .when((b == 0) & (at(1).getField("le") <= 0), at(1).getField("le"))
            .otherwise(interp)
        )
        return g.select("labels", "t", value.alias("value"))

    # -- absent()

    def _eval_absent(self, node: AbsentFn) -> DataFrame:
        """1 at every eval step where the selector matches nothing; the
        anti-join runs grid-vs-aggregated-steps (both <= n_evals rows).
        With a window (absent_over_time) presence means >= 1 sample in
        (t - window, t] instead of the lookback staleness rule."""
        if node.window is not None:
            if node.selector.at_ts is not None:
                # pinned window: one evaluation at the @ timestamp,
                # fanned across the grid (same rule as range fns)
                from dataclasses import replace as _dc_replace

                pinned = self._pinned(node.selector.at_ts)
                sel = _dc_replace(node.selector, at_ts=None)
                return self._fan_out(
                    pinned._eval_absent(AbsentFn(sel, node.window))
                )
            pts = self._points(node.selector, node.window)
            present = _explode_to_grid(
                pts, self.start, self.step, node.window, self.n_evals
            ).select(_grid_time(self.start, self.step)).distinct()
        else:
            present = self._eval_selector(node.selector).select("t").distinct()
        spark = self.tagged.sparkSession
        grid = spark.range(self.n_evals).select(
            (F.lit(self.start) + F.col("id") * F.lit(self.step))
            .cast("long").alias("t")
        )
        return (
            grid.join(present, "t", "left_anti")
            .select(
                _absent_labels(node.selector.matchers).alias("labels"),
                "t", F.lit(1.0).alias("value"),
            )
        )

    # -- instant-vector math functions

    def _eval_math(self, node: MathFn) -> DataFrame:
        child = self.eval(node.expr)
        v = F.col("value")
        if node.fn == "round":
            # round to the nearest multiple of `to_nearest` (default 1),
            # ties rounding up — upstream promql/functions.go funcRound
            n = F.lit(float(node.scalar if node.scalar is not None else 1.0))
            value = F.floor(v / n + F.lit(0.5)) * n
        elif node.fn == "clamp_min":
            value = F.greatest(v, F.lit(float(node.scalar)))
        elif node.fn == "clamp_max":
            value = F.least(v, F.lit(float(node.scalar)))
        elif node.fn == "clamp":
            lo, hi = float(node.scalar), float(node.scalar2)
            # upstream: empty vector when min > max
            if lo > hi:
                return child.filter(F.lit(False)).select(
                    _drop_name(F.col("labels")).alias("labels"), "t", "value"
                )
            value = F.least(F.greatest(v, F.lit(lo)), F.lit(hi))
        elif node.fn == "sgn":
            value = F.signum(v)
        else:
            value = {
                "abs": F.abs(v),
                "ceil": F.ceil(v).cast("double"),
                "floor": F.floor(v).cast("double"),
                "exp": F.exp(v),
                "ln": F.log(v),
                "log2": F.log2(v),
                "log10": F.log10(v),
                "sqrt": F.sqrt(v),
                "sin": F.sin(v), "cos": F.cos(v), "tan": F.tan(v),
                "asin": F.asin(v), "acos": F.acos(v), "atan": F.atan(v),
                "sinh": F.sinh(v), "cosh": F.cosh(v), "tanh": F.tanh(v),
                "deg": F.degrees(v), "rad": F.radians(v),
            }[node.fn]
        return child.select(
            _drop_name(F.col("labels")).alias("labels"), "t",
            value.cast("double").alias("value"),
        )

    # -- label_replace / label_join

    def _eval_label(self, node: LabelFn) -> DataFrame:
        child = self.eval(node.expr)
        labels = F.col("labels")
        dst = node.dst
        base = F.map_filter(labels, lambda k, _: k != dst)
        if node.fn == "label_replace":
            replacement, src, regex = node.args
            # upstream: the regex must match the ENTIRE source value
            # (missing label == ""); $1-style group refs in the replacement
            anchored = f"^(?:{regex})$"
            try:
                re.compile(regex)
            except re.error as exc:
                raise PromQLError(f"invalid regex {regex!r}: {exc}")
            src_val = F.coalesce(labels.getItem(src), F.lit(""))
            matches = src_val.rlike(anchored)
            new_val = F.regexp_replace(src_val, anchored, replacement)
        else:
            sep, *srcs = node.args
            matches = F.lit(True)
            new_val = F.concat_ws(
                sep, *[F.coalesce(labels.getItem(s), F.lit("")) for s in srcs]
            )
        with_dst = F.map_concat(base, F.create_map(F.lit(dst), new_val))
        out_labels = (
            F.when(~matches, labels)
            .when(new_val == "", base)
            .otherwise(with_dst)
        )
        return child.select(out_labels.alias("labels"), "t", "value")

    # -- vector <op> vector (one-to-one)

    DUPLICATE_SERIES_MSG = "found duplicate series for the match group"

    def _eval_vec_bin(self, node: VecBinOp) -> DataFrame:
        """Default one-to-one matching: samples pair up when their label
        sets (minus __name__) are identical at the same step; unmatched
        samples drop (inner join on the canonical key). Series counts per
        key are small post-aggregation, and both sides are keyed the same
        way, so this is an ordinary equi-join Catalyst can broadcast or
        shuffle on (series-key, t)."""
        if isinstance(node.left, TimeFn) or isinstance(node.right, TimeFn):
            return self._eval_time_bin(node)
        if isinstance(node.left, ScalarFn) or isinstance(node.right, ScalarFn):
            return self._eval_scalar_bin(node)

        def mkey(labels):
            if node.match_on is not None:
                keys = F.array([F.lit(k) for k in node.match_on])
                return _canon(F.map_filter(
                    labels, lambda k, _: F.array_contains(keys, k)))
            if node.match_ignoring is not None:
                keys = F.array([F.lit(k) for k in node.match_ignoring])
                return _canon(F.map_filter(
                    labels,
                    lambda k, _: ~F.array_contains(keys, k) & (k != "__name__"),
                ))
            return _canon(_drop_name(labels))

        l = (
            self.eval(node.left)
            .withColumn("mkey", mkey(F.col("labels")))
            .withColumnRenamed("value", "lv")
            .withColumnRenamed("labels", "llabels")
        )
        r = self.eval(node.right).select(
            F.col("t"), F.col("value").alias("rv"),
            mkey(F.col("labels")).alias("mkey"),
            F.col("labels").alias("rlabels"),
        )
        if node.op in ("and", "unless"):
            # left samples whose match key (does not) appear(s) on the
            # right at the same step — semi/anti join, labels untouched
            how = "left_semi" if node.op == "and" else "left_anti"
            keys = r.select("mkey", "t")
            return (
                l.join(keys, ["mkey", "t"], how)
                .select(F.col("llabels").alias("labels"), "t",
                        F.col("lv").alias("value"))
            )
        if node.op == "or":
            # all left samples, plus right samples whose key has no left
            # sample at that step
            right_only = (
                r.join(l.select("mkey", "t"), ["mkey", "t"], "left_anti")
                .select(F.col("rlabels").alias("labels"), "t",
                        F.col("rv").alias("value"))
            )
            return (
                l.select(F.col("llabels").alias("labels"), "t",
                         F.col("lv").alias("value"))
                .unionByName(right_only)
            )
        # upstream cardinality errors: one-to-one requires BOTH sides
        # unique per (match group, step); group_left/right requires the
        # 'one' side unique. Without the check every duplicate silently
        # multiplies rows through the join (upstream raises 'found
        # duplicate series for the match group' instead).
        if node.group_side is None:
            l = _unique_match_guard(l, "left")
            r = _unique_match_guard(r, "right")
        elif node.group_side == "left":  # many=left, one=right
            r = _unique_match_guard(r, "right")
        else:  # group_right: many=right, one=left
            l = _unique_match_guard(l, "left")
        joined = l.join(r, ["mkey", "t"])
        # output label set: the many side under group_left/group_right
        # (listed labels copied over from the one side), else the left
        many, one = (
            (F.col("rlabels"), F.col("llabels"))
            if node.group_side == "right"
            else (F.col("llabels"), F.col("rlabels"))
        )
        out_labels = many
        if node.group_labels:
            gl = F.array([F.lit(k) for k in node.group_labels])
            out_labels = F.map_concat(
                F.map_filter(many, lambda k, _: ~F.array_contains(gl, k)),
                F.map_filter(one, lambda k, _: F.array_contains(gl, k)),
            )
        joined = joined.withColumn("labels", out_labels)
        lv, rv = F.col("lv"), F.col("rv")
        if node.op in _COMPARE_COLS:
            cond = _COMPARE_COLS[node.op](lv, rv)
            if node.bool_mode:
                # bool: 0/1 per matched pair, metric name dropped
                return joined.select(
                    _drop_name(F.col("labels")).alias("labels"), "t",
                    F.when(cond, 1.0).otherwise(0.0).alias("value"),
                )
            # filter: surviving LEFT samples keep their full label set
            return joined.filter(cond).select(
                "labels", "t", lv.alias("value")
            )
        value = _arith_col(node.op, lv, rv)
        return joined.select(
            _drop_name(F.col("labels")).alias("labels"), "t",
            value.alias("value"),
        )

    def _eval_time_bin(self, node: VecBinOp) -> DataFrame:
        """`time() <op> vector` / `vector <op> time()`: time() behaves as
        a per-step scalar (the eval timestamp)."""
        if isinstance(node.left, TimeFn) and isinstance(node.right, TimeFn):
            raise PromQLError("time() on both sides of a binary operator")
        time_on_left = isinstance(node.left, TimeFn)
        child = self.eval(node.right if time_on_left else node.left)
        tcol = F.col("t").cast("double")
        v = F.col("value")
        left, right = (tcol, v) if time_on_left else (v, tcol)
        if node.op in _COMPARE_COLS:
            cond = _COMPARE_COLS[node.op](left, right)
            if node.bool_mode:
                return child.select(
                    _drop_name(F.col("labels")).alias("labels"), "t",
                    F.when(cond, 1.0).otherwise(0.0).alias("value"),
                )
            return child.filter(cond).select("labels", "t", "value")
        value = _arith_col(node.op, left, right)
        return child.select(
            _drop_name(F.col("labels")).alias("labels"), "t",
            value.alias("value"),
        )

    def _eval_scalar_bin(self, node: VecBinOp) -> DataFrame:
        """vector <op> scalar(v): the scalar side supplies one value per
        step and joins on t only (like time()), not on label match keys."""
        sc_on_left = isinstance(node.left, ScalarFn)
        sc = node.left if sc_on_left else node.right
        other = node.right if sc_on_left else node.left
        if node.op in self._SET_OPS_EVAL:
            raise PromQLError(
                f'set operator "{node.op}" not allowed in binary scalar '
                f"expression"
            )
        if isinstance(other, ScalarFn) and node.op in _COMPARE_COLS \
                and not node.bool_mode:
            raise PromQLError(
                "comparisons between scalars must use BOOL modifier"
            )
        svals = self._eval_scalar_fn(sc).select(
            "t", F.col("value").alias("__sv")
        )
        child = self.eval(other).join(svals, "t")
        v, s = F.col("value"), F.col("__sv")
        left, right = (s, v) if sc_on_left else (v, s)
        if node.op in _COMPARE_COLS:
            cond = _COMPARE_COLS[node.op](left, right)
            if node.bool_mode:
                return child.select(
                    _drop_name(F.col("labels")).alias("labels"), "t",
                    F.when(cond, 1.0).otherwise(0.0).alias("value"),
                )
            return child.filter(cond).select("labels", "t", "value")
        value = _arith_col(node.op, left, right)
        return child.select(
            _drop_name(F.col("labels")).alias("labels"), "t",
            value.alias("value"),
        )

    _SET_OPS_EVAL = ("and", "or", "unless")

    # -- vector <op> scalar

    def _eval_bin(self, node: BinOp) -> DataFrame:
        child = self.eval(node.expr)
        v, c = F.col("value"), F.lit(node.scalar)
        left, right = (c, v) if node.scalar_on_left else (v, c)
        if node.op in _COMPARE_COLS:
            cond = _COMPARE_COLS[node.op](left, right)
            if node.bool_mode:
                return child.select(
                    _drop_name(F.col("labels")).alias("labels"), "t",
                    F.when(cond, 1.0).otherwise(0.0).alias("value"),
                )
            # filter mode keeps the sample (and its metric name) intact
            return child.filter(cond).select("labels", "t", "value")
        value = _arith_col(node.op, left, right)
        return child.select(
            _drop_name(F.col("labels")).alias("labels"), "t",
            value.alias("value"),
        )


def _time_component_col(fn: str):
    """Calendar component of a double epoch-seconds Column, UTC
    (sessions pin spark.sql.session.timeZone=UTC). Spark's dayofweek is
    1=Sunday; upstream day_of_week is 0=Sunday."""

    def comp(c):
        ts = F.timestamp_seconds(c)
        out = {
            "minute": F.minute(ts),
            "hour": F.hour(ts),
            "day_of_week": F.dayofweek(ts) - 1,
            "day_of_month": F.dayofmonth(ts),
            "day_of_year": F.dayofyear(ts),
            "days_in_month": F.dayofmonth(F.last_day(ts)),
            "month": F.month(ts),
            "year": F.year(ts),
        }[fn]
        return out.cast("double")

    return comp


def _unique_match_guard(df: DataFrame, side: str) -> DataFrame:
    """In-plan assertion that each (mkey, t) holds exactly one sample —
    the upstream vector-matching cardinality error, raised at action time
    from the executors (assert_true), translated to a PromQLError/400 by
    the API layer. The window partitions on the same (mkey, t) key the
    subsequent join shuffles on, so the exchange is shared."""
    w = Window.partitionBy("mkey", "t")
    chk = F.assert_true(
        F.count(F.lit(1)).over(w) == 1,
        F.concat(
            F.lit("found duplicate series for the match group {"),
            F.col("mkey").cast("string"),
            F.lit(f"}} on the {side} hand-side of the operation"),
        ),
    )
    # assert_true yields NULL when it passes; keeping it inside a filter
    # stops column pruning from dropping the check
    return df.withColumn("__chk", chk).filter(F.col("__chk").isNull()).drop("__chk")


def _absent_labels(matchers: list[LabelMatcher]) -> F.Column:
    """Upstream absent(): the result carries the selector's non-regex
    equality labels (minus __name__)."""
    kv = []
    for m in matchers:
        if m.op == "=" and m.name != "__name__":
            kv += [F.lit(m.name), F.lit(m.value)]
    if not kv:
        return F.expr("cast(map() as map<string,string>)")
    return F.create_map(*kv)


def eval_promql(tagged: DataFrame, expr, start: int, end: int,
                step: int, lookback: int = DEFAULT_LOOKBACK,
                ordered: bool = True) -> DataFrame:
    """Parse + evaluate; returns a (labels map, series string, t, value)
    frame, sorted by (series, t) unless `ordered=False`. `series` is the
    canonical sorted `k=v` join — a stable, groupable series identity for
    encoders and oracles. `expr` may be a PromQL string or an
    already-parsed AST node (callers that inspect the tree avoid a double
    parse).

    The sort is a range sort: a sampling job plus a sort job. The HTTP
    API asks for the unsorted frame and sorts the collected rows on the
    driver (`GraphiteHandler._prom_result`): `sum by (k) (rate(m[5m]))`
    runs 3 Spark jobs that way instead of 5. Library and contract callers
    keep the sorted frame and its plan."""
    node = parse_promql(expr) if isinstance(expr, str) else expr
    ev = Evaluator(tagged, start, end, step, lookback)
    out = ev.eval(node).select(
        "labels",
        F.array_join(_canon("labels"), ",").alias("series"),
        "t", "value",
    )
    return out.orderBy("series", "t") if ordered else out
