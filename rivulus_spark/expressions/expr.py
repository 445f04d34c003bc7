"""Expression algebra: the reference's 12 binary ops + alias, compiled
to Spark ``Column`` expressions.

Semantics mirrored from the reference (no code copied):
- builders col/lit/alias + add/sub/mul/div/eq/neq/lt/gt/lte/gte/and_/or_
  (/root/reference/src/expressions/expr.rs:32-138);
- output naming: a Column keeps its name, an Alias renames, a BinaryExpr
  inherits the LEFT operand's name, a bare Literal is named "literal"
  (/root/reference/src/logical_plan/plan.rs:204-233);
- result typing: comparisons/And/Or -> Boolean; arithmetic promotes
  (Float64, numeric) -> Float64, (Int64, Int64) -> Int64 — including
  division, so Int64/Int64 truncates to Int64, unlike Spark's ``/``
  which always yields Double (/root/reference/src/logical_plan/plan.rs:235-262).

Unlike the reference — whose physical planners reject computed
projections and compound predicates — this engine executes the FULL
algebra; Catalyst handles it natively.
"""

from __future__ import annotations

import enum
import operator
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import ColumnNotFoundError, MixedTypesError
from ..schema import DataType, infer_value_type, promote_numeric

Schema = list[tuple[str, DataType]]


class Op(enum.Enum):
    ADD = "+"
    SUB = "-"
    MUL = "*"
    DIV = "/"
    EQ = "=="
    EQ_NULL_SAFE = "<=>"
    NEQ = "!="
    LT = "<"
    GT = ">"
    LTE = "<="
    GTE = ">="
    AND = "AND"
    OR = "OR"


_COMPARISONS = {Op.EQ, Op.EQ_NULL_SAFE, Op.NEQ, Op.LT, Op.GT, Op.LTE, Op.GTE}
_LOGICAL = {Op.AND, Op.OR}
_ARITHMETIC = {Op.ADD, Op.SUB, Op.MUL, Op.DIV}
#: the Column each op compiles to; every Column built costs JVM
#: round-trips, so a node builds exactly one
_BUILD = {
    Op.ADD: operator.add, Op.SUB: operator.sub, Op.MUL: operator.mul,
    Op.DIV: operator.truediv, Op.EQ: operator.eq,
    Op.EQ_NULL_SAFE: lambda l, r: l.eqNullSafe(r), Op.NEQ: operator.ne,
    Op.LT: operator.lt, Op.GT: operator.gt, Op.LTE: operator.le,
    Op.GTE: operator.ge, Op.AND: operator.and_, Op.OR: operator.or_,
}


class Expr:
    """Immutable expression tree node."""

    # -- constructors -------------------------------------------------
    @staticmethod
    def col(name: str) -> "Expr":
        return Expr(kind="column", name=name)

    @staticmethod
    def lit(value: Any) -> "Expr":
        return Expr(kind="literal", value=value)

    def alias(self, name: str) -> "Expr":
        return Expr(kind="alias", child=self, name=name)

    def __init__(self, kind: str, name: str | None = None, value: Any = None,
                 child: "Expr | None" = None, left: "Expr | None" = None,
                 op: Op | None = None, right: "Expr | None" = None):
        self.kind = kind
        self.name = name
        self.value = value
        self.child = child
        self.left = left
        self.op = op
        self.right = right

    # -- binary builders ----------------------------------------------
    def _bin(self, op: Op, other: "Expr | Any") -> "Expr":
        if not isinstance(other, Expr):
            other = Expr.lit(other)
        return Expr(kind="binary", left=self, op=op, right=other)

    def add(self, o): return self._bin(Op.ADD, o)
    def sub(self, o): return self._bin(Op.SUB, o)
    def mul(self, o): return self._bin(Op.MUL, o)
    def div(self, o): return self._bin(Op.DIV, o)
    def eq(self, o): return self._bin(Op.EQ, o)

    def eq_null_safe(self, o):
        """SQL ``<=>``: null <=> null is TRUE — the reference's eager
        engine treats Null == Null as true (its series.rs PartialEq);
        the default ``eq`` keeps SQL three-valued logic, this builder
        opts into the reference behavior per-expression."""
        return self._bin(Op.EQ_NULL_SAFE, o)

    def neq(self, o): return self._bin(Op.NEQ, o)
    def lt(self, o): return self._bin(Op.LT, o)
    def gt(self, o): return self._bin(Op.GT, o)
    def lte(self, o): return self._bin(Op.LTE, o)
    def gte(self, o): return self._bin(Op.GTE, o)
    def and_(self, o): return self._bin(Op.AND, o)
    def or_(self, o): return self._bin(Op.OR, o)

    # python operator sugar
    __add__ = add
    __sub__ = sub
    __mul__ = mul
    __truediv__ = div
    __and__ = and_
    __or__ = or_

    # reflected variants so scalar-on-the-left spellings work
    # (2 + col('x'), 1.5 * col('price')) — same asymmetry fix
    # pyspark.sql.Column ships
    def __radd__(self, o): return Expr.lit(o)._bin(Op.ADD, self)
    def __rsub__(self, o): return Expr.lit(o)._bin(Op.SUB, self)
    def __rmul__(self, o): return Expr.lit(o)._bin(Op.MUL, self)
    def __rtruediv__(self, o): return Expr.lit(o)._bin(Op.DIV, self)

    def __bool__(self) -> bool:
        # the trap pyspark.sql.Column also blocks: Python's and/or/if
        # would silently evaluate an Expr as truthy and drop predicates
        # (`a == b and c == d` returns only the second comparison)
        raise TypeError(
            "Expr cannot be converted to bool: use & | ~ for boolean "
            "logic, not and/or/not")

    def __eq__(self, o):  # type: ignore[override]
        return self.eq(o)

    def __ne__(self, o):  # type: ignore[override]
        return self.neq(o)

    __lt__ = lt
    __gt__ = gt
    __le__ = lte
    __ge__ = gte
    __hash__ = None  # type: ignore[assignment]

    # -- resolution ---------------------------------------------------
    def output_name(self) -> str:
        if self.kind == "column":
            return self.name  # type: ignore[return-value]
        if self.kind == "alias":
            return self.name  # type: ignore[return-value]
        if self.kind == "literal":
            return "literal"
        return self.left.output_name()  # binary: left operand's name

    def output_type(self, schema: Schema) -> DataType:
        if self.kind == "column":
            for n, t in schema:
                if n == self.name:
                    return t
            return DataType.NULL  # unresolved types as Null; validate catches it
        if self.kind == "alias":
            return self.child.output_type(schema)
        if self.kind == "literal":
            return infer_value_type(self.value)
        lt_ = self.left.output_type(schema)
        rt = self.right.output_type(schema)
        if self.op in _COMPARISONS or self.op in _LOGICAL:
            return DataType.BOOLEAN
        return promote_numeric(lt_, rt)

    def known_type(self, schema: Schema) -> DataType | None:
        """The logical type of the compiled Column's Spark type, where
        the typing rules fix it: ``output_type``, except None where
        Spark's own coercion decides — arithmetic over a Null,
        non-numeric or unknown operand, and literals outside the
        five-type core."""
        if self.kind == "column":
            return self.output_type(schema)
        if self.kind == "alias":
            return self.child.known_type(schema)
        if self.kind == "literal":
            try:
                return infer_value_type(self.value)
            except MixedTypesError:
                return None
        if self.op not in _ARITHMETIC:
            return DataType.BOOLEAN
        lt_, rt = self.left.known_type(schema), self.right.known_type(schema)
        if lt_ is None or rt is None or not (lt_.is_numeric and rt.is_numeric):
            return None
        return promote_numeric(lt_, rt)

    def referenced_columns(self) -> list[str]:
        if self.kind == "column":
            return [self.name]
        if self.kind == "alias":
            return self.child.referenced_columns()
        if self.kind == "literal":
            return []
        return self.left.referenced_columns() + self.right.referenced_columns()

    def validate(self, schema: Schema) -> None:
        names = [n for n, _ in schema]
        for c in self.referenced_columns():
            if c not in names:
                raise ColumnNotFoundError(c, names)

    # -- compilation to Spark -----------------------------------------
    def to_spark(self, schema: Schema) -> Column:
        """Compile to a Spark Column. ``schema`` drives the reference's
        typing rules (notably Int64/Int64 division -> Int64). A bare
        column already carries its output name and is not aliased."""
        col = self._compile(schema)
        return col if self.kind == "column" else col.alias(self.output_name())

    def _compile(self, schema: Schema) -> Column:
        if self.kind == "column":
            return F.col(self.name)
        if self.kind == "literal":
            return F.lit(self.value)
        if self.kind == "alias":
            return self.child._compile(schema)
        l = self.left._compile(schema)
        r = self.right._compile(schema)
        if self.op is Op.DIV and self.output_type(schema) is DataType.INT64:
            # reference semantics: Int64/Int64 stays Int64, truncating
            # toward zero. Spark's integral `div` does exactly that in
            # int64 arithmetic; the former (l / r).cast("long") detour
            # through Double silently lost precision at |value| >= 2^53.
            return F.call_function("div", l, r)
        return _BUILD[self.op](l, r)

    def __repr__(self) -> str:
        if self.kind == "column":
            return f"col({self.name!r})"
        if self.kind == "literal":
            return f"lit({self.value!r})"
        if self.kind == "alias":
            return f"{self.child!r}.alias({self.name!r})"
        return f"({self.left!r} {self.op.value} {self.right!r})"


def col(name: str) -> Expr:
    return Expr.col(name)


def lit(value: Any) -> Expr:
    return Expr.lit(value)
