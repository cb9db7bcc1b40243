"""Grammar unit tests (no Spark session needed).

Mirrors reference parse/extract tests
(tests/test_ResultValidator.py:260-304 in the reference repo).
"""

from __future__ import annotations

import pytest

from ssb_coefficient_maker_spark.formula.parser import (
    BinOp,
    Call,
    FormulaError,
    Num,
    Var,
    extract_variables,
    parse_formula,
)


def test_parse_simple_binop():
    expr = parse_formula("a + b")
    assert isinstance(expr, BinOp) and expr.op == "+"
    assert expr.left == Var("a") and expr.right == Var("b")


def test_parse_precedence():
    expr = parse_formula("a + b * c")
    assert expr.op == "+"
    assert isinstance(expr.right, BinOp) and expr.right.op == "*"


def test_parse_parens():
    expr = parse_formula("(a - b) / c")
    assert expr.op == "/"
    assert isinstance(expr.left, BinOp) and expr.left.op == "-"


def test_caret_is_power():
    # reference converts '^' to '**' (coeff_maker.py:688-691)
    expr = parse_formula("a ^ 2")
    assert isinstance(expr, BinOp) and expr.op == "**"
    assert expr.right == Num(2.0)


def test_caret_has_power_precedence():
    # sympy convert_xor semantics: '2*a^2' == 2*(a**2), NOT (2*a)**2.
    expr = parse_formula("2*a^2")
    assert isinstance(expr, BinOp) and expr.op == "*"
    assert expr.left == Num(2.0)
    assert isinstance(expr.right, BinOp) and expr.right.op == "**"
    assert expr.right.left == Var("a") and expr.right.right == Num(2.0)


def test_caret_binds_tighter_than_addition():
    # 'a^2 + b' == (a**2) + b, NOT a**(2+b)
    expr = parse_formula("a^2 + b")
    assert isinstance(expr, BinOp) and expr.op == "+"
    assert isinstance(expr.left, BinOp) and expr.left.op == "**"
    assert expr.right == Var("b")


def test_power_and_unary():
    expr = parse_formula("-a ** 2")
    # Python precedence: -(a**2)
    assert expr.op == "-" or (hasattr(expr, "operand"))


def test_extract_variables_order_and_dedup():
    assert extract_variables("(a - b) / c + a") == ["a", "b", "c"]


def test_extract_from_string():
    assert extract_variables("x * y + 1") == ["x", "y"]


def test_fillna_method_call():
    expr = parse_formula("i.fillna(0) * a")
    assert isinstance(expr, BinOp) and expr.op == "*"
    assert isinstance(expr.left, Call) and expr.left.func == "fillna"


def test_abs_and_pow_whitelist():
    assert isinstance(parse_formula("abs(a)"), Call)
    assert isinstance(parse_formula("pow(a, 2)"), Call)


def test_reserved_names_are_plain_variables():
    # sympy would capture I/E as constants; the reference pre-binds
    # symbols to avoid that (coeff_maker.py:673-698). Our ast parser
    # has no such capture by construction.
    assert extract_variables("I + E") == ["I", "E"]


@pytest.mark.parametrize(
    "bad",
    [
        "",
        "   ",
        "a +",
        "import os",
        "__import__('os')",
        "a.transpose()",
        "open('/etc/passwd')",
        "lambda x: x",
        "[1,2,3]",
        "'str'",
        "a if b else c",
        "f(a)",
        # NOTE: "a @ b" parses since round 8 (matmul extension beyond
        # the reference's pd.eval, which rejects '@') — see
        # tests/test_round8_ops.py::TestMatmul
        "a and b",
        "a < b < c",
    ],
)
def test_rejected_formulas(bad):
    with pytest.raises((FormulaError, ValueError)):
        parse_formula(bad)


def test_numeric_literals_only():
    with pytest.raises(FormulaError):
        parse_formula("a + True")


def test_where_whitelist():
    expr = parse_formula("where(a > b, a, b)")
    assert isinstance(expr, Call) and expr.func == "where"
    with pytest.raises(FormulaError):
        parse_formula("where(a, b)")


def test_transpose_parses_other_attributes_refused():
    # `m.T` is reachable through pd.eval in the reference
    # (coeff_maker.py:766); carried since round 7 (Transpose node,
    # evaluated on the triplet path). Any OTHER attribute must refuse
    # with the documented-deviation note, not a generic parse error.
    from ssb_coefficient_maker_spark.formula.parser import Transpose, Var

    assert parse_formula("m.T") == Transpose(Var("m"))
    # compound transpose PARSES (refusal happens at evaluation, where
    # operand types are known)
    expr = parse_formula("(a + b).T * c")
    assert isinstance(expr.left, Transpose)
    with pytest.raises(FormulaError, match=r"(?s)'values'.*SURVEY.*deviation"):
        parse_formula("m.values + 1")


def test_every_backend_implements_the_grammar():
    """Each op table holds ``num``, ``neg``, every operator symbol and
    every elementwise call of the parser's tables, and nothing else: a
    construct the grammar gains fails here until every backend has it."""
    from ssb_coefficient_maker_spark.adp import MP_OPS
    from ssb_coefficient_maker_spark.formula.parser import CALLS, OPERATORS
    from ssb_coefficient_maker_spark.functions.math import SQL_OPS
    from ssb_coefficient_maker_spark.plans.alignment import NUMPY_OPS

    grammar = ({"num", "neg"} | {sym for sym, _ in OPERATORS.values()}
               | {name for name, sig in CALLS.items() if sig.node is Call})
    for table in (SQL_OPS, NUMPY_OPS, MP_OPS):
        assert set(table) == grammar


def test_whitelist_message_lists_names_in_a_fixed_order():
    with pytest.raises(FormulaError, match=r"\['abs', 'pow', 'where', 'neumann', 'leontief'\]"):
        parse_formula("exp(a)")
    with pytest.raises(FormulaError, match=r"\['fillna'\]"):
        parse_formula("a.round(2)")
