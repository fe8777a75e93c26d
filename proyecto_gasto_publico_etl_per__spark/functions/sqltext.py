"""SQL text as the one expression form for shared column helpers.

A helper is written once, as a SQL template with ``{0}``, ``{1}``, …
argument slots.  Whole projections embed the rendered text directly
(``selectExpr``: one Py4J call for the whole list, where a per-column
``withColumn`` chain costs a JVM round trip per function node), and
`sql_column` turns the same template into a Column for callers that
compose with the DataFrame API.

Spark SQL text and DataFrame calls compile to the same Catalyst plan,
so the form changes driver cost only, never the result.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def ident(name: str) -> str:
    """Backtick-quote a column name for embedding in SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _name_sql(name: str) -> str:
    """A column name as ``F.col`` reads it: dots separate the parts of a
    qualified name unless the caller backtick-quoted it."""
    if "`" in name:
        return name
    return ".".join(ident(part) for part in name.split("."))


def sql_column(template: str, *args: Column | str) -> Column:
    """The Column for ``template`` applied to ``args``.

    Name arguments render as identifiers read the way ``F.col`` reads
    them, so the usual call is a single ``F.expr``.  A Column argument
    has no SQL text of its own: the template is parsed with a
    placeholder attribute in that slot and the Column's expression is
    bound in its place (through the classic JVM session), so the Column
    path compiles to the same expression tree as the text path.
    """
    if all(isinstance(a, str) for a in args):
        return F.expr(template.format(*[_name_sql(a) for a in args]))
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "sql_column: binding a Column needs an active SparkSession"
        )
    jvm = spark._jvm
    utils = jvm.org.apache.spark.sql.classic.ExpressionUtils
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    bound = {}
    slots = []
    for i, a in enumerate(args):
        if isinstance(a, str):
            slots.append(_name_sql(a))
        else:
            name = f"__sql_column_arg{i}"
            bound[name] = utils.expression(a._jc)
            slots.append(ident(name))
    parsed = spark._jsparkSession.sessionState().sqlParser().parseExpression(
        template.format(*slots)
    )

    def bind(node):
        if node.getClass().getSimpleName() == "UnresolvedAttribute":
            hit = bound.get(node.name())
            if hit is not None:
                return hit
        kids = list(conv.asJava(node.children()))
        if not kids:
            return node
        return node.withNewChildren(conv.asScala([bind(k) for k in kids]).toSeq())

    return Column(utils.column(bind(parsed)))
