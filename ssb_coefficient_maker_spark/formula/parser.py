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

Parsing yields a small typed tree (``FormulaExpr``). ``evaluate`` is
the one walk over its elementwise nodes; each backend is an op table
that maps ``num``, ``neg``, every operator and every function to its
implementation: Spark SQL text (``functions.math.SQL_OPS``: one
expression string per output column, built in pure Python and applied
in one ``selectExpr``), numpy (``plans.alignment.NUMPY_OPS``) and
mpmath (``adp.MP_OPS``).
"""

from __future__ import annotations

import ast
import operator
from dataclasses import dataclass, fields
from typing import Any, Callable, Mapping


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
    func: str  # 'abs' | 'pow' | 'fillna'
    args: tuple[FormulaExpr, ...]


@dataclass(frozen=True)
class Transpose(FormulaExpr):
    """``m.T`` — matrix transpose (the one pd.eval attribute the
    reference surface reaches, coeff_maker.py:766). Evaluated on the
    triplet path as a (row, col) key swap — a pure projection; the
    wide path refuses it with a pointer there (plans/alignment.py)."""

    operand: FormulaExpr


@dataclass(frozen=True)
class MatMul(FormulaExpr):
    """``a @ b`` — matrix product. An EXTENSION beyond the reference:
    its pd.eval python engine rejects '@' outright (SURVEY.md §2
    Part B, verified), yet the domain is input-output coefficient
    matrices (reference coeff_maker.py:1-13) where matrix products
    are the natural next ask. Evaluated on the triplet path as a
    label-contraction join + sum aggregate (plans/triplet.py
    ``matmul_triplet``) — one shuffle, any width; the wide path and
    ADP mode refuse it loudly."""

    left: FormulaExpr
    right: FormulaExpr


@dataclass(frozen=True)
class Leontief(FormulaExpr):
    """``leontief(a[, tol])`` — the Leontief total-requirements matrix
    ``(I - a)^-1`` via the CONVERGENCE-CHECKED Neumann iteration
    (plans/triplet.leontief_total_requirements): terms accumulate
    until the largest remaining entry falls under ``tol`` (default
    1e-10), raising if the series does not converge (spectral radius
    >= 1). This finishes the domain story ``neumann(a, k)`` opened —
    the caller no longer picks the depth; the data does. ``tol`` must
    be a literal positive number: it drives a DRIVER-SIDE loop (one
    scalar action per term, constant plan depth via per-term lineage
    cuts), so it cannot be column-valued. Same sparse semantics and
    ADP/wide refusals as ``neumann``."""

    operand: FormulaExpr
    tol: float


@dataclass(frozen=True)
class Neumann(FormulaExpr):
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

    operand: FormulaExpr
    terms: int


_BINOPS: dict[type[ast.operator], str] = {
    ast.Add: "+",
    ast.Sub: "-",
    ast.Mult: "*",
    ast.Div: "/",
    ast.Mod: "%",
    ast.FloorDiv: "//",
    ast.Pow: "**",
}

_CMPOPS: dict[type[ast.cmpop], str] = {
    ast.Lt: "<",
    ast.LtE: "<=",
    ast.Gt: ">",
    ast.GtE: ">=",
    ast.Eq: "==",
    ast.NotEq: "!=",
}

# the comparisons' Python operators: every backend wraps them to give
# 1.0/0.0 with IEEE NaN semantics
COMPARISONS: dict[str, Callable[[Any, Any], Any]] = {
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
    "==": operator.eq,
    "!=": operator.ne,
}

_FUNC_WHITELIST = {"abs", "pow", "where", "neumann", "leontief"}
_METHOD_WHITELIST = {"fillna"}


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
    if isinstance(node, ast.BinOp):
        if isinstance(node.op, ast.MatMult):
            # matrix product, NOT an elementwise BinOp: it changes
            # shape and must never reach the scalar column compiler
            return MatMul(_convert(node.left, formula), _convert(node.right, formula))
        op = _BINOPS.get(type(node.op))
        if op is None:
            raise FormulaError(f"unsupported operator in {formula!r}: {ast.dump(node.op)}")
        return BinOp(op, _convert(node.left, formula), _convert(node.right, formula))
    if isinstance(node, ast.UnaryOp):
        if isinstance(node.op, ast.USub):
            return UnaryOp("-", _convert(node.operand, formula))
        if isinstance(node.op, ast.UAdd):
            return UnaryOp("+", _convert(node.operand, formula))
        raise FormulaError(f"unsupported unary operator in {formula!r}")
    if isinstance(node, ast.Compare):
        if len(node.ops) != 1 or len(node.comparators) != 1:
            raise FormulaError(f"chained comparisons not supported: {formula!r}")
        op = _CMPOPS.get(type(node.ops[0]))
        if op is None:
            raise FormulaError(f"unsupported comparison in {formula!r}")
        return BinOp(op, _convert(node.left, formula), _convert(node.comparators[0], formula))
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
    if isinstance(node.func, ast.Name):
        name = node.func.id
        if name not in _FUNC_WHITELIST:
            raise FormulaError(f"function {name!r} not in whitelist {_FUNC_WHITELIST}")
        if name == "neumann":
            if len(node.args) != 2:
                raise FormulaError(
                    "neumann() takes exactly two arguments (matrix, terms)"
                )
            operand = _convert(node.args[0], formula)
            terms_node = node.args[1]
            if not (
                isinstance(terms_node, ast.Constant)
                and isinstance(terms_node.value, int)
                and not isinstance(terms_node.value, bool)
                and terms_node.value >= 0
            ):
                raise FormulaError(
                    "neumann() terms must be a literal non-negative integer "
                    "— the depth shapes the plan (k contraction joins) and "
                    "cannot be data-dependent"
                )
            return Neumann(operand, terms_node.value)
        if name == "leontief":
            if len(node.args) not in (1, 2):
                raise FormulaError(
                    "leontief() takes one or two arguments (matrix[, tol])"
                )
            operand = _convert(node.args[0], formula)
            tol = 1e-10
            if len(node.args) == 2:
                tol_node = node.args[1]
                if not (
                    isinstance(tol_node, ast.Constant)
                    and isinstance(tol_node.value, (int, float))
                    and not isinstance(tol_node.value, bool)
                    and tol_node.value > 0
                ):
                    raise FormulaError(
                        "leontief() tol must be a literal positive number "
                        "— it drives the driver-side convergence loop "
                        "(one scalar action per term) and cannot be "
                        "data-dependent"
                    )
                tol = float(tol_node.value)
            return Leontief(operand, tol)
        args = tuple(_convert(a, formula) for a in node.args)
        if name == "abs" and len(args) != 1:
            raise FormulaError("abs() takes exactly one argument")
        if name == "pow" and len(args) != 2:
            raise FormulaError("pow() takes exactly two arguments")
        if name == "where" and len(args) != 3:
            raise FormulaError("where() takes exactly three arguments (cond, a, b)")
        return Call(name, args)
    if isinstance(node.func, ast.Attribute):
        method = node.func.attr
        if method not in _METHOD_WHITELIST:
            raise FormulaError(f"method {method!r} not in whitelist {_METHOD_WHITELIST}")
        target = _convert(node.func.value, formula)
        args = (target,) + tuple(_convert(a, formula) for a in node.args)
        if len(args) != 2:
            raise FormulaError("fillna() takes exactly one argument")
        return Call(method, args)
    raise FormulaError(f"unsupported call syntax in {formula!r}")


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


def contains_transpose(expr: FormulaExpr) -> bool:
    """True iff the parsed formula has a ``.T`` anywhere — used by the
    evaluator to route such formulas onto the triplet path (the only
    form where transpose is a cheap key swap)."""
    return any(isinstance(n, Transpose) for n in _nodes(expr))


def contains_matmul(expr: FormulaExpr) -> bool:
    """True iff the parsed formula has an ``@`` anywhere — or a
    ``neumann()`` / ``leontief()`` call, which desugar to chains of
    ``@`` contractions — such formulas route onto the triplet path
    (the only form where the product is a join + sum aggregate at any
    width), and all refuse identically under ADP (the contraction
    computes in float64)."""
    return any(isinstance(n, (MatMul, Neumann, Leontief)) for n in _nodes(expr))


_MATRIX_OPS = {
    Transpose: "transpose ('.T')",
    MatMul: "matmul ('@')",
    Neumann: "neumann()",
    Leontief: "leontief()",
}


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
        f"{_MATRIX_OPS[type(expr)]} is supported on the triplet path only — "
        "evaluate via FormulaEvaluator (which routes automatically) "
        "or compile_formula_triplet"
    )
