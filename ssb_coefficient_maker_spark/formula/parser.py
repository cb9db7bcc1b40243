"""Formula front-end: a defined grammar parsed once with Python ``ast``.

The reference parses every formula twice — sympy for variable analysis
(reference coeff_maker.py:673-698) and pandas-eval for execution
(reference coeff_maker.py:766) — and its de-facto language is
"whatever ``pd.eval``'s python engine accepts" (SURVEY.md §2 Part B).
Here the language is explicit:

    expr    := arithmetic over names and numeric literals
    binops  := + - * / % // ** (and '^' as an alias for '**',
               matching the reference's auto-conversion,
               reference coeff_maker.py:688-691)
    unary   := -x, +x
    compare := < <= > >= == !=
    calls   := whitelisted only: abs(x), pow(x, y), where(c, a, b), x.fillna(v)
    matrix  := m.T (transpose), a @ b (matrix product),
               neumann(a, k) (truncated Neumann series
               I + a + a@a + ... + a^k — the Leontief
               total-requirements construction at fixed depth), and
               leontief(a[, tol]) (the same construction
               CONVERGENCE-CHECKED: terms accumulate until the
               largest remaining entry < tol, literal tol, default
               1e-10) — all EXTENSIONS: the reference's pd.eval
               python engine rejects '@' outright; all evaluate on
               the triplet path

Each construct is declared once, in this module:

- every operator in ``OPERATORS`` (keyed by its ``ast`` node type);
- every call in ``CALLS``: its parameters, its node, and whether it is
  the method form; a matrix op's literal parameters share one check
  (``_literal``);
- every matrix op as a ``MatrixOp`` subclass, whose ``name`` is how
  messages name it; ``matrix_ops`` lists the ones a formula uses.

Parsing yields a small typed tree (``FormulaExpr``). ``evaluate`` is
the one walk over its elementwise nodes; each backend is an op table
that maps ``num``, ``neg``, every operator symbol and every elementwise
call to its implementation: Spark SQL text (``functions.math.SQL_OPS``:
one expression string per output column, built in pure Python and
applied in one ``selectExpr``), numpy (``plans.alignment.NUMPY_OPS``)
and mpmath (``adp.MP_OPS``).
"""

from __future__ import annotations

import ast
import operator
from dataclasses import dataclass, fields
from typing import Any, Callable, ClassVar, Mapping, NamedTuple


class FormulaError(ValueError):
    """Raised for formulas outside the supported grammar."""


@dataclass(frozen=True)
class FormulaExpr:
    """Base class for parsed formula nodes."""


@dataclass(frozen=True)
class Num(FormulaExpr):
    value: float


@dataclass(frozen=True)
class Var(FormulaExpr):
    name: str


@dataclass(frozen=True)
class BinOp(FormulaExpr):
    op: str  # one of + - * / % // ** < <= > >= == !=
    left: FormulaExpr
    right: FormulaExpr


@dataclass(frozen=True)
class UnaryOp(FormulaExpr):
    op: str  # '-' or '+'
    operand: FormulaExpr


@dataclass(frozen=True)
class Call(FormulaExpr):
    func: str  # an elementwise name in CALLS
    args: tuple[FormulaExpr, ...]


@dataclass(frozen=True)
class MatrixOp(FormulaExpr):
    """A matrix-shaped node: it evaluates on the triplet path only.
    ``name`` is how messages name the op."""

    name: ClassVar[str]


@dataclass(frozen=True)
class Transpose(MatrixOp):
    """``m.T`` — matrix transpose (the one pd.eval attribute the
    reference surface reaches, coeff_maker.py:766). Evaluated on the
    triplet path as a (row, col) key swap — a pure projection; the
    wide path refuses it with a pointer there (plans/alignment.py)."""

    name: ClassVar[str] = "transpose ('.T')"
    operand: FormulaExpr


@dataclass(frozen=True)
class MatMul(MatrixOp):
    """``a @ b`` — matrix product. An EXTENSION beyond the reference:
    its pd.eval python engine rejects '@' outright (SURVEY.md §2
    Part B, verified), yet the domain is input-output coefficient
    matrices (reference coeff_maker.py:1-13) where matrix products
    are the natural next ask. Evaluated on the triplet path as a
    label-contraction join + sum aggregate (plans/triplet.py
    ``matmul_triplet``) — one shuffle, any width; the wide path and
    ADP mode refuse it loudly."""

    name: ClassVar[str] = "matmul ('@')"
    left: FormulaExpr
    right: FormulaExpr


@dataclass(frozen=True)
class Leontief(MatrixOp):
    """``leontief(a[, tol])`` — the Leontief total-requirements matrix
    ``(I - a)^-1`` via the CONVERGENCE-CHECKED Neumann iteration
    (plans/triplet.leontief_total_requirements): terms accumulate
    until the largest remaining entry falls under ``tol`` (default
    1e-10), raising if the series does not converge (spectral radius
    >= 1). This finishes the domain story ``neumann(a, k)`` opened —
    the caller no longer picks the depth; the data does. ``tol`` must
    be a literal positive number: it drives a DRIVER-SIDE loop (over
    a small label vocabulary, one collect of the operand and the
    series in numpy; above it, one scalar action per term with
    per-term lineage cuts), so it cannot be column-valued. Same
    sparse semantics and ADP/wide refusals as ``neumann``."""

    name: ClassVar[str] = "leontief()"
    operand: FormulaExpr
    tol: float = 1e-10


@dataclass(frozen=True)
class Neumann(MatrixOp):
    """``neumann(a, k)`` — the truncated Neumann series
    ``I + a + a@a + ... + a^k``, i.e. the Leontief total-requirements
    construction ``(I - a)^-1`` at fixed depth (the reference's
    domain is input-output coefficient matrices,
    coeff_maker.py:1-13, where this is THE flagship matrix op; its
    own pd.eval surface cannot express it — no '@', no identity).
    ``k`` must be a literal non-negative integer: the depth shapes
    the PLAN (k contraction joins), so it cannot be data-dependent.
    Evaluates on the triplet path (plans/triplet.neumann_series) with
    sparse semantics — the identity term is built over the operand's
    label universe, and absent cells are 0, not NaN."""

    name: ClassVar[str] = "neumann()"
    operand: FormulaExpr
    terms: int


# Every elementwise operator, by its ast node type: its symbol, which
# each backend's op table implements, and its Python operator, which the
# backends wrap for a comparison to give 1.0/0.0 with IEEE NaN semantics.
# '@' is not here: it parses to ``MatMul``, a matrix op.
OPERATORS: dict[type[ast.AST], tuple[str, Callable[[Any, Any], Any]]] = {
    ast.Add: ("+", operator.add),
    ast.Sub: ("-", operator.sub),
    ast.Mult: ("*", operator.mul),
    ast.Div: ("/", operator.truediv),
    ast.Mod: ("%", operator.mod),
    ast.FloorDiv: ("//", operator.floordiv),
    ast.Pow: ("**", operator.pow),
    ast.Lt: ("<", operator.lt),
    ast.LtE: ("<=", operator.le),
    ast.Gt: (">", operator.gt),
    ast.GtE: (">=", operator.ge),
    ast.Eq: ("==", operator.eq),
    ast.NotEq: ("!=", operator.ne),
}
COMPARISONS = {sym: fn for t, (sym, fn) in OPERATORS.items() if issubclass(t, ast.cmpop)}


class Signature(NamedTuple):
    """One call of the grammar: its parameter names, the node it builds
    (an elementwise ``Call``, or a ``MatrixOp`` whose parameters after
    its operand are literals), how many trailing parameters are
    optional (the node's field defaults fill them), and whether it is
    the method form ``x.name(...)``, whose receiver is its first
    argument."""

    params: tuple[str, ...]
    node: type[FormulaExpr] = Call
    optional: int = 0
    method: bool = False

    def form(self, name: str) -> str:
        required = len(self.params) - self.optional
        shown = ", ".join(self.params[1 if self.method else 0:required])
        shown += "".join(f"[, {p}]" for p in self.params[required:])
        return f"{self.params[0]}.{name}({shown})" if self.method else f"{name}({shown})"


CALLS: dict[str, Signature] = {
    "abs": Signature(("x",)),
    "pow": Signature(("x", "y")),
    "where": Signature(("cond", "a", "b")),
    "fillna": Signature(("x", "value"), method=True),
    "neumann": Signature(("matrix", "terms"), Neumann),
    "leontief": Signature(("matrix", "tol"), Leontief, optional=1),
}

# A matrix op's literal parameters: what each accepts, its type, and the
# rule a refusal states. Each shapes the plan or drives a driver-side
# loop, so none can be data-dependent.
_LITERALS: dict[str, tuple[Callable[[Any], bool], type, str]] = {
    "terms": (lambda v: isinstance(v, int) and v >= 0, int,
              "a literal non-negative integer — the depth shapes the plan (k contraction joins)"),
    "tol": (lambda v: v > 0, float, "a literal positive number — it drives the driver-side "
            "convergence loop (the stop rule of the series)"),
}


def parse_formula(formula: str) -> FormulaExpr:
    """Parse a formula string into a FormulaExpr tree."""
    if not isinstance(formula, str):
        raise FormulaError(f"formula must be a string, got {type(formula)}")
    if not formula.strip():
        raise FormulaError("empty formula")
    # '^' means power with POWER precedence: rewrite at the text level
    # before ast.parse, exactly like sympy's convert_xor token pass
    # (reference coeff_maker.py:688-691). Mapping ast.BitXor instead
    # would keep XOR's precedence and parse '2*a^2' as (2*a)**2.
    # Safe as plain text replacement: the grammar has no string
    # literals, so '^' can only occur as the operator.
    formula = formula.replace("^", "**")
    try:
        tree = ast.parse(formula, mode="eval")
    except SyntaxError as exc:
        raise FormulaError(f"invalid formula syntax: {formula!r}: {exc}") from exc
    return _convert(tree.body, formula)


def _convert(node: ast.expr, formula: str) -> FormulaExpr:
    if isinstance(node, ast.Constant):
        if isinstance(node.value, bool) or not isinstance(node.value, (int, float)):
            raise FormulaError(f"only numeric literals allowed, got {node.value!r}")
        return Num(float(node.value))
    if isinstance(node, ast.Name):
        return Var(node.id)
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.MatMult):
        # matrix product, NOT an elementwise BinOp: it changes
        # shape and must never reach the scalar column compiler
        return MatMul(_convert(node.left, formula), _convert(node.right, formula))
    if isinstance(node, ast.Compare):
        # one comparison is a binary operator of the table
        if len(node.ops) != 1:
            raise FormulaError(f"chained comparisons not supported: {formula!r}")
        node = ast.BinOp(node.left, node.ops[0], node.comparators[0])
    if isinstance(node, ast.BinOp):
        if type(node.op) not in OPERATORS:
            raise FormulaError(f"unsupported operator in {formula!r}: {ast.dump(node.op)}")
        op = OPERATORS[type(node.op)][0]
        return BinOp(op, _convert(node.left, formula), _convert(node.right, formula))
    if isinstance(node, ast.UnaryOp):
        if isinstance(node.op, ast.USub):
            return UnaryOp("-", _convert(node.operand, formula))
        if isinstance(node.op, ast.UAdd):
            return UnaryOp("+", _convert(node.operand, formula))
        raise FormulaError(f"unsupported unary operator in {formula!r}")
    if isinstance(node, ast.Call):
        return _convert_call(node, formula)
    if isinstance(node, ast.Attribute):
        # The reference forwards raw formulas to pd.eval, where `m.T`
        # (transpose) is reachable but never exercised by its tests
        # (reference coeff_maker.py:766). Supported since round 7 on
        # the triplet path (a key-swap projection); any OTHER
        # attribute stays a loud refusal.
        if node.attr == "T":
            return Transpose(_convert(node.value, formula))
        raise FormulaError(
            f"attribute access {node.attr!r} in {formula!r} is not supported: "
            "of the pd.eval-style attributes only '.T' (transpose) is "
            "carried (see SURVEY.md §7); others are a documented deviation "
            "from the reference — pivot/relabel the input DataFrame instead"
        )
    raise FormulaError(f"unsupported syntax in formula {formula!r}: {type(node).__name__}")


def _convert_call(node: ast.Call, formula: str) -> FormulaExpr:
    if node.keywords:
        raise FormulaError(f"keyword arguments not supported in {formula!r}")
    method = isinstance(node.func, ast.Attribute)
    if not (method or isinstance(node.func, ast.Name)):
        raise FormulaError(f"unsupported call syntax in {formula!r}")
    name = node.func.attr if method else node.func.id
    sig = CALLS.get(name)
    if sig is None or sig.method != method:
        kind = "method" if method else "function"
        raise FormulaError(f"{kind} {name!r} not in whitelist "
                           f"{[n for n, s in CALLS.items() if s.method == method]}")
    args = ([node.func.value] if method else []) + node.args
    if not len(sig.params) - sig.optional <= len(args) <= len(sig.params):
        raise FormulaError(f"wrong number of arguments: the form is {sig.form(name)}")
    if sig.node is Call:
        return Call(name, tuple(_convert(a, formula) for a in args))
    literals = [_literal(a, name, p) for a, p in zip(args[1:], sig.params[1:])]
    return sig.node(_convert(args[0], formula), *literals)


def _literal(node: ast.expr, call: str, param: str) -> Any:
    """A matrix op's literal argument, checked against its rule."""
    accepts, kind, rule = _LITERALS[param]
    value = node.value if isinstance(node, ast.Constant) else None
    if isinstance(value, bool) or not isinstance(value, (int, float)) or not accepts(value):
        raise FormulaError(f"{call}() {param} must be {rule} and cannot be data-dependent")
    return kind(value)


def _nodes(expr: FormulaExpr):
    """Every node of a parsed formula, depth-first, left to right."""
    yield expr
    for f in fields(expr):
        value = getattr(expr, f.name)
        for child in value if isinstance(value, tuple) else (value,):
            if isinstance(child, FormulaExpr):
                yield from _nodes(child)


def extract_variables(expr: FormulaExpr | str) -> list[str]:
    """Free variable names of a parsed formula, in first-seen order.

    Mirrors reference ``extract_variables`` (coeff_maker.py:700-718)
    but works on our AST rather than sympy free_symbols (which lose
    source order).
    """
    if isinstance(expr, str):
        expr = parse_formula(expr)
    return list(dict.fromkeys(n.name for n in _nodes(expr) if isinstance(n, Var)))


def matrix_ops(expr: FormulaExpr) -> list[str]:
    """The names of the matrix ops a parsed formula uses, in first-seen
    order. A formula that uses any routes onto the triplet path (the
    only form where transpose is a key swap and a product a join + sum
    aggregate at any width), and under ADP it is refused (the triplet
    path computes in float64)."""
    return list(dict.fromkeys(n.name for n in _nodes(expr) if isinstance(n, MatrixOp)))


def evaluate(expr: FormulaExpr, var: Callable[[str], Any], ops: Mapping[str, Callable]) -> Any:
    """Evaluate an elementwise formula tree with one backend's op table.

    ``var`` resolves a variable name to a backend value; ``ops`` maps
    ``num`` (a literal), ``neg``, each operator and each function name
    to its implementation. Matrix nodes are rewritten away on the
    triplet path before this walk, so meeting one here is a refusal.
    """
    if isinstance(expr, Num):
        return ops["num"](expr.value)
    if isinstance(expr, Var):
        return var(expr.name)
    if isinstance(expr, UnaryOp):
        inner = evaluate(expr.operand, var, ops)
        return ops["neg"](inner) if expr.op == "-" else inner
    if isinstance(expr, BinOp):
        return ops[expr.op](evaluate(expr.left, var, ops), evaluate(expr.right, var, ops))
    if isinstance(expr, Call):
        return ops[expr.func](*(evaluate(a, var, ops) for a in expr.args))
    raise FormulaError(
        f"{expr.name} is supported on the triplet path only — "
        "evaluate via FormulaEvaluator (which routes automatically) "
        "or compile_formula_triplet"
    )
