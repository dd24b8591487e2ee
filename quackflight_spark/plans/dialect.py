"""SQL dialect frontend — DuckDB/ClickHouse-isms → Spark SQL.

The reference accepts DuckDB SQL plus ClickHouse idioms and does a handful
of pre-parse string rewrites itself (SURVEY.md §4.1):

- FORMAT-clause extraction        reference main.py:252-259
- ATTACH/USE prefix injection     reference main.py:284, 326
- catalog-prefix stripping        reference main.py:769-777 (whitespace
                                  token hack — we do it quote-aware)
- INSERT routing                  reference main.py:228-229

Everything else it delegates to DuckDB's parser. Spark's parser rejects
several DuckDB/ClickHouse-isms, so this module rewrites them before
spark.sql():

- zero-arg count()        → count(*)          (ClickHouse, README.md:5)
- x::TYPE                 → CAST(x AS TYPE)
- QUALIFY <pred>          → subquery + filter on projected window columns
- DISTINCT ON (k) ... ORDER BY ... → row_number()=1 rewrite
- trailing commas in SELECT lists → dropped
- read_parquet('p')       → parquet.`p` (Spark's native path table)
- table-function-qualified refs (read_parquet.town) → bare column
- multiIf(c1,v1,...,else) → CASE WHEN chain
- SELECT * EXCLUDE (cols)  → * EXCEPT (cols)  (Spark's spelling)
- leading FROM (`FROM t` / `FROM t WHERE ...`) → SELECT * FROM ...
- SUMMARIZE t             → per-column stats via DataFrame.summary()
- SHOW ALL TABLES         → all_tables(): every database's tables
- == is already valid Spark SQL (no rewrite needed)
- GROUP BY ALL / ORDER BY ALL / * EXCEPT are native in Spark ≥3.4 —
  accepted as-is (pinned in tests/test_dialect.py)

All rewrites are quote- and identifier-aware via a minimal SQL lexer —
never blind string replace (the reference's own whitespace-split rewrite
is cited in SURVEY §7 as a bug not to replicate).

run_script() implements the reference's multi-statement execute-
sequentially-return-last semantics (examples/flight_read.py:7).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# lexer

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<comment>--[^\n]*|/\*.*?\*/)
    | (?P<squote>'(?:[^']|'')*')
    | (?P<dquote>"(?:[^"]|"")*")
    | (?P<bquote>`(?:[^`]|``)*`)
    | (?P<dcolon>::)
    | (?P<op><=|>=|<>|!=|==|\|\||->>|->)
    | (?P<punct>[(),;*<>=+\-/%.\[\]])
    | (?P<word>[A-Za-z_][A-Za-z0-9_$]*)
    | (?P<num>\d+(?:\.\d*)?(?:[eE][+-]?\d+)?)
    | (?P<other>.)
    """,
    re.VERBOSE | re.DOTALL,
)


@dataclass
class Tok:
    kind: str
    text: str

    def is_word(self, *names: str) -> bool:
        return self.kind == "word" and self.text.upper() in names


def tokenize(sql: str) -> list[Tok]:
    toks: list[Tok] = []
    for m in _TOKEN_RE.finditer(sql):
        kind = m.lastgroup or "other"
        toks.append(Tok(kind, m.group()))
    return toks


def render(toks: list[Tok]) -> str:
    return "".join(t.text for t in toks)


def _significant(toks: list[Tok]) -> list[int]:
    """Indices of non-whitespace/comment tokens."""
    return [i for i, t in enumerate(toks) if t.kind not in ("ws", "comment")]


# ---------------------------------------------------------------------------
# FORMAT clause (reference main.py:252-259)

_FORMAT_RE = re.compile(r"\bFORMAT\s+(\w+)\s*;?\s*$", re.IGNORECASE)


def sanitize_query(query: str) -> tuple[str, str | None]:
    """Strip a trailing `FORMAT <fmt>` clause, returning (sql, fmt|None) —
    the reference's sanitize_query behavior (main.py:252-259)."""
    m = _FORMAT_RE.search(query)
    if not m:
        return query.strip(), None
    return query[: m.start()].strip().rstrip(";").strip(), m.group(1)


# ---------------------------------------------------------------------------
# token-level rewrites

def _rewrite_count_zero_arg(toks: list[Tok]) -> list[Tok]:
    """count() → count(*)  (Spark rejects the ClickHouse zero-arg form)."""
    sig = _significant(toks)
    out = list(toks)
    for si, i in enumerate(sig):
        t = out[i]
        if t.is_word("COUNT") and si + 2 < len(sig):
            j, k = sig[si + 1], sig[si + 2]
            if out[j].text == "(" and out[k].text == ")":
                out[k] = Tok("punct", "*)")
    return out


def _rewrite_dcolon_cast(toks: list[Tok]) -> list[Tok]:
    """expr::TYPE → CAST(expr AS TYPE).

    Handles simple operands (literal, identifier, dotted identifier,
    parenthesized expression, function call) — the forms that appear in
    practice. TYPE may be multi-word-free (INTEGER, VARCHAR, DOUBLE,
    DECIMAL(p,s), BIGINT, ...).
    """
    while True:
        sig = _significant(toks)
        pos = next(
            (si for si, i in enumerate(sig) if toks[i].kind == "dcolon"), None
        )
        if pos is None:
            return toks
        # --- operand end: token before ::
        end = sig[pos - 1]
        # --- find operand start
        start = end
        t = toks[end]
        if t.text == ")":
            depth = 0
            for i in range(end, -1, -1):
                if toks[i].text == ")":
                    depth += 1
                elif toks[i].text == "(":
                    depth -= 1
                    if depth == 0:
                        start = i
                        break
            # include function name if present
            sj = [i for i in _significant(toks) if i < start]
            if sj and toks[sj[-1]].kind in ("word",) and not toks[sj[-1]].is_word(
                "SELECT", "WHERE", "AND", "OR", "ON", "BY", "FROM", "WHEN", "THEN", "ELSE"
            ):
                start = sj[-1]
        elif t.kind in ("word", "num", "squote", "dquote", "bquote"):
            # walk back dotted chains a.b.c
            prev = [i for i in _significant(toks) if i < end]
            while len(prev) >= 2 and toks[prev[-1]].text == "." and toks[prev[-2]].kind in ("word", "dquote", "bquote"):
                start = prev[-2]
                prev = prev[:-2]
        # --- type tokens after ::
        tstart = sig[pos + 1]
        tend = tstart
        sig_after = [i for i in _significant(toks) if i > tstart]
        if sig_after and toks[sig_after[0]].text == "(":
            depth = 0
            for i in range(sig_after[0], len(toks)):
                if toks[i].text == "(":
                    depth += 1
                elif toks[i].text == ")":
                    depth -= 1
                    if depth == 0:
                        tend = i
                        break
        operand = render(toks[start : end + 1])
        typ = render(toks[tstart : tend + 1])
        typ = {"INT4": "INT", "INT8": "BIGINT", "FLOAT8": "DOUBLE", "FLOAT4": "FLOAT",
               "UBIGINT": "BIGINT", "UINTEGER": "BIGINT", "VARCHAR": "STRING",
               "TEXT": "STRING", "BLOB": "BINARY", "UTINYINT": "SMALLINT",
               "USMALLINT": "INT", "HUGEINT": "DECIMAL(38,0)"}.get(typ.upper(), typ)
        replacement = tokenize(f"CAST({operand} AS {typ})")
        toks = toks[:start] + replacement + toks[tend + 1 :]


def _rewrite_trailing_commas(toks: list[Tok]) -> list[Tok]:
    """`SELECT a, b, FROM t` → drop the comma before FROM."""
    sig = _significant(toks)
    drop: set[int] = set()
    for si, i in enumerate(sig[:-1]):
        if toks[i].text == "," and toks[sig[si + 1]].is_word("FROM"):
            drop.add(i)
    return [t for i, t in enumerate(toks) if i not in drop]


_READ_PARQUET_RE = re.compile(
    r"\bread_parquet\s*\(\s*'([^']+)'\s*\)", re.IGNORECASE
)


def _rewrite_read_parquet(sql: str) -> str:
    """read_parquet('path') → parquet.`path` (Spark's path-table syntax,
    keeping scan pushdown). Also strips table-function-qualified column
    prefixes (`read_parquet.town` → `town`) as in the README demo."""
    sql = re.sub(r"\bread_parquet\s*\.\s*", "", sql)
    return _READ_PARQUET_RE.sub(lambda m: f"parquet.`{m.group(1)}`", sql)


def _rewrite_multiif(sql: str) -> str:
    """multiIf(c1, v1, c2, v2, ..., else) → CASE WHEN chain (variadic, so
    structural not template-based)."""
    out = []
    i = 0
    pattern = re.compile(r"\bmultiIf\s*\(", re.IGNORECASE)
    while True:
        m = pattern.search(sql, i)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        out.append(sql[i : m.start()])
        # find matching close paren, collecting top-level args
        depth, j, arg, args = 1, m.end(), [], []
        in_str = False
        while j < len(sql) and depth:
            c = sql[j]
            if in_str:
                if c == "'":
                    in_str = False
                arg.append(c)
            elif c == "'":
                in_str = True
                arg.append(c)
            elif c == "(":
                depth += 1
                arg.append(c)
            elif c == ")":
                depth -= 1
                if depth:
                    arg.append(c)
            elif c == "," and depth == 1:
                args.append("".join(arg).strip())
                arg = []
            else:
                arg.append(c)
            j += 1
        args.append("".join(arg).strip())
        whens = "".join(
            f" WHEN {args[k]} THEN {args[k + 1]}" for k in range(0, len(args) - 1, 2)
        )
        out.append(f"CASE{whens} ELSE {args[-1]} END")
        i = j


def _rewrite_qualify(sql: str) -> str:
    """QUALIFY <pred> → wrap in a subquery projecting __q = <pred>, filter,
    drop (SURVEY §2.5 W5). Supports a single QUALIFY on the outer query."""
    toks = tokenize(sql)
    sig = _significant(toks)
    qpos = None
    depth = 0
    for i in sig:
        if toks[i].text == "(":
            depth += 1
        elif toks[i].text == ")":
            depth -= 1
        elif depth == 0 and toks[i].is_word("QUALIFY"):
            qpos = i
            break
    if qpos is None:
        return sql
    # predicate runs to end (or top-level ORDER BY / LIMIT)
    tail_start = len(toks)
    depth = 0
    for i in [i for i in sig if i > qpos]:
        if toks[i].text == "(":
            depth += 1
        elif toks[i].text == ")":
            depth -= 1
        elif depth == 0 and toks[i].is_word("ORDER", "LIMIT"):
            tail_start = i
            break
    pred = render(toks[qpos + 1 : tail_start]).strip()
    tail = render(toks[tail_start:]).strip()
    # split the head at its top-level FROM: the window predicate must see
    # the *source* columns (they may not be in the projection list)
    depth = 0
    from_i = None
    for i in sig:
        if i >= qpos:
            break
        if toks[i].text == "(":
            depth += 1
        elif toks[i].text == ")":
            depth -= 1
        elif depth == 0 and toks[i].is_word("FROM"):
            from_i = i
    if from_i is None:
        return sql
    cols = render(toks[:from_i]).strip()  # includes leading SELECT
    src = render(toks[from_i + 1 : qpos]).strip()  # source + WHERE etc.
    return (
        f"{cols} FROM (SELECT *, ({pred}) AS __q FROM {src}) "
        f"WHERE __q {tail}"
    )


_DISTINCT_ON_RE = re.compile(
    r"SELECT\s+DISTINCT\s+ON\s*\(", re.IGNORECASE
)


def _rewrite_distinct_on(sql: str) -> str:
    """SELECT DISTINCT ON (keys) cols FROM rest [ORDER BY o] →
    row_number() OVER (PARTITION BY keys ORDER BY o|keys) = 1 rewrite
    (deterministic pick per key group, DuckDB semantics)."""
    m = _DISTINCT_ON_RE.search(sql)
    if not m:
        return sql
    # key list: up to the matching close paren
    depth, j = 1, m.end()
    while j < len(sql) and depth:
        if sql[j] == "(":
            depth += 1
        elif sql[j] == ")":
            depth -= 1
        j += 1
    keys = sql[m.end() : j - 1].strip()
    rest = sql[j:].strip()  # "cols FROM source [ORDER BY o]"
    # split cols / FROM-part at the first top-level FROM
    toks = tokenize(rest)
    depth = 0
    from_i = None
    for i, t in enumerate(toks):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.is_word("FROM"):
            from_i = i
            break
    if from_i is None:
        return sql
    cols = render(toks[:from_i]).strip()
    source = render(toks[from_i + 1 :]).strip()
    # peel top-level ORDER BY from the source part
    om = re.search(r"\bORDER\s+BY\b", source, re.IGNORECASE)
    order = keys
    if om:
        order = source[om.end() :].strip()
        source = source[: om.start()].strip()
    return (
        f"SELECT * EXCEPT (__rn) FROM (SELECT {cols}, row_number() OVER "
        f"(PARTITION BY {keys} ORDER BY {order}) AS __rn FROM {source}) "
        f"WHERE __rn = 1"
    )


def strip_catalog_prefix(sql: str, catalog: str = "deltalake") -> str:
    """Remove a `<catalog>.` prefix from table references — the reference
    does this for SELECTs with a whitespace split (main.py:769-777, noted
    in SURVEY §7 as breaking quoted identifiers); we do it token-aware."""
    toks = tokenize(sql)
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (
            t.kind == "word"
            and t.text == catalog
            and i + 1 < len(toks)
            and toks[i + 1].text == "."
        ):
            i += 2  # drop `catalog` and `.`
            continue
        out.append(t)
        i += 1
    return render(out)


# ---------------------------------------------------------------------------
# public API

def _rewrite_star_exclude(toks: list[Tok]) -> list[Tok]:
    """DuckDB `* EXCLUDE (cols)` → Spark `* EXCEPT (cols)` — same
    semantics, different keyword. Only the token immediately after a `*`
    is rewritten, so a column or alias named exclude survives."""
    sig = _significant(toks)
    out = list(toks)
    for j, i in enumerate(sig):
        if toks[i].text == "*" and j + 1 < len(sig):
            nxt = sig[j + 1]
            if toks[nxt].is_word("EXCLUDE"):
                out[nxt] = Tok("word", "EXCEPT")
    return out


def _rewrite_leading_from(sql: str) -> str:
    """DuckDB's FROM-first shorthand: a statement starting with FROM is
    `SELECT * FROM ...` (DuckDB docs, 'FROM-first syntax')."""
    toks = tokenize(sql)
    sig = _significant(toks)
    if sig and toks[sig[0]].is_word("FROM"):
        return "SELECT * " + sql.strip()
    return sql


def transpile(sql: str) -> str:
    """DuckDB/ClickHouse-flavored SQL → Spark SQL (single statement)."""
    sql, _fmt = sanitize_query(sql)
    sql = _rewrite_leading_from(sql)
    sql = _rewrite_read_parquet(sql)
    sql = _rewrite_multiif(sql)
    sql = _rewrite_qualify(sql)
    sql = _rewrite_distinct_on(sql)
    toks = tokenize(sql)
    toks = _rewrite_count_zero_arg(toks)
    toks = _rewrite_dcolon_cast(toks)
    toks = _rewrite_trailing_commas(toks)
    toks = _rewrite_star_exclude(toks)
    return render(toks).strip()


def split_statements(script: str) -> list[str]:
    """Split a multi-statement script on top-level semicolons
    (quote-aware)."""
    stmts, cur = [], []
    for t in tokenize(script):
        if t.text == ";" and t.kind == "punct":
            s = render(cur).strip()
            if s:
                stmts.append(s)
            cur = []
        else:
            cur.append(t)
    s = render(cur).strip()
    if s:
        stmts.append(s)
    return stmts


def quote_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def table_listing(spark: SparkSession) -> DataFrame:
    """Tables across every database as (database, name, table_type,
    temporary); `all_tables` without the last column.

    Built from SQL commands, `SHOW DATABASES` and one `SHOW TABLE EXTENDED
    ... LIKE '*'` per database, whose results Spark holds as local
    relations: the frame has a known size estimate and costs no catalog
    round trip per table (the PySpark Catalog API makes several per
    table). Temp views are session-global and every database's listing
    repeats them, so they are taken from the first listing only and listed
    once under `temp`. table_type is the lower-cased `Type:` line of
    `information`."""
    listings = [
        spark.sql(f"SHOW TABLE EXTENDED IN {quote_ident(r[0])} LIKE '*'")
        for r in spark.sql("SHOW DATABASES").collect()
    ]
    temp = F.col("isTemporary")
    parts = [t.where(~temp) for t in listings] + [listings[0].where(temp)]
    return reduce(DataFrame.unionAll, parts).select(
        F.when(temp, F.lit("temp")).otherwise(F.col("namespace")).alias("database"),
        F.col("tableName").alias("name"),
        F.lower(F.regexp_extract("information", r"(?m)^Type: (\w+)", 1)).alias("table_type"),
        temp.alias("temporary"),
    )


def all_tables(spark: SparkSession) -> DataFrame:
    """(database, name, table_type) of every table: the answer to DuckDB's
    `SHOW ALL TABLES`."""
    return table_listing(spark).drop("temporary")


def run_script(spark: SparkSession, script: str) -> DataFrame | None:
    """Execute a multi-statement script sequentially, returning the last
    statement's result — the reference's DuckDB `execute` behavior for
    tickets like 'CREATE TABLE t AS ...; SELECT * FROM t;'
    (examples/flight_read.py:7)."""
    result: DataFrame | None = None
    from quackflight_spark.serving.namespaces import maybe_handle_attach

    for stmt in split_statements(script):
        if maybe_handle_attach(spark, stmt):
            # ATTACH '<file>' AS x / DETACH x — namespace-bridge analog of
            # the reference's verbatim DuckDB forwarding (main.py:284)
            result = None
            continue
        toks = tokenize(stmt)
        sig = _significant(toks)
        words = [toks[i].text.upper() for i in sig[:3]]
        if words == ["SHOW", "ALL", "TABLES"] and len(sig) == 3:
            # DuckDB `SHOW ALL TABLES` (the reference's canned
            # list_schemas flight ticket, main.py:515-519). Exactly three
            # tokens: a FROM/LIKE suffix is NOT this statement and falls
            # through to spark.sql for a loud error rather than silently
            # ignoring the qualifier.
            result = all_tables(spark)
        elif sig and toks[sig[0]].is_word("SUMMARIZE"):
            # DuckDB SUMMARIZE <table-or-query>: per-column summary stats.
            # Spark-native form: DataFrame.summary() over the target —
            # column set differs from DuckDB's (documented dialect delta).
            rest = render(toks[sig[1]:]).strip() if len(sig) > 1 else ""
            target = (
                spark.table(rest)
                if len(rest.split()) == 1
                else spark.sql(transpile(rest))
            )
            result = target.summary()
        else:
            result = spark.sql(transpile(stmt))
    return result
