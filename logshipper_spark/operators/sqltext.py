"""Quoting for projections built as SQL text, one ``F.expr`` per column
(a PySpark 4 Column operator costs a call-site capture plus py4j round
trips).  Every literal and identifier spliced into the text goes through
these."""


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal (the parser unescapes ``\\``)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """``name`` as one backquoted column identifier, never a struct path."""
    return "`" + name.replace("`", "``") + "`"
