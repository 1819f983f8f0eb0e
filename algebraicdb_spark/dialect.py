"""The reference's statement dialect, lowered to Catalyst.

algebraicdb is driven entirely through its own SQL-ish language; a
user of the reference writes statements, not DataFrame code. This
module gives that workflow on Spark (reconstructed surface — the
reference mount was empty, see SURVEY §0; statement shapes are
`[R-high/med]` from public knowledge of the project):

    CREATE TYPE Shape = Circle(r: Double) | Rect(w: Double, h: Double) | Point
    CREATE TYPE Pair  = MkPair(Double, Double)        -- positional → _1, _2
    CREATE TABLE shapes (id: Integer, s: Shape)
    INSERT INTO shapes VALUES (1, Circle(2.0)), (2, Point)
    SELECT id FROM shapes WHERE s: Circle(r) AND r > 1.0   -- pattern + binding
    DROP TABLE shapes

Lowering (everything ends up as plain Catalyst plans):

- ``CREATE TYPE``    → an :class:`AdtType` (tagged-struct encoding, §1.3).
- ``CREATE TABLE``   → an empty, fully-typed temp view + a catalog entry
  recording which columns are ADTs (pattern resolution needs it).
- ``INSERT``         → literal rows built as expressions (constructor
  calls compile through ``AdtType.construct``) unioned onto the view.
- ``SELECT`` (and any other statement) → pattern atoms ``col: Variant``
  / ``col: Variant(b1, …)`` are rewritten to ``col.tag = 'Variant'``
  and every binding identifier is substituted with its payload field
  access (``col.variant._1``); the rewritten text goes to
  ``spark.sql`` untouched, so the full Spark SQL surface composes with
  patterns (CASE arms, aggregates, subqueries, …).

Pattern-match semantics preserved from the reference: positional
binding against the variant's declared fields, ``_`` wildcards, arity
errors at *plan* time, and bindings usable anywhere in the statement.
Binding names that shadow a real column of any table in scope are
rejected instead of silently captured.
"""

from __future__ import annotations

import re
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession

from algebraicdb_spark.functions.adt import AdtError, AdtType, Variant, field_ddl

# Reference primitive names (algebraicdb's types) → Spark DDL.
_TYPE_MAP = {
    "integer": "bigint",
    "int": "bigint",
    "double": "double",
    "bool": "boolean",
    "boolean": "boolean",
    "text": "string",
    "string": "string",
    "varchar": "string",
    # bare INTERVAL means the ANSI day-time interval (arithmetic +
    # SUM/AVG work; columns are comparable and sortable) — NOT Spark's
    # legacy CalendarIntervalType, which rejects aggregation. The
    # year-month flavor is declarable explicitly as
    # `Interval Year To Month` (passthrough).
    "interval": "interval day to second",
    # DECIMAL(p,s)/NUMERIC(p,s) pass through to Spark's exact decimal
    # unchanged (exact-money arithmetic end-to-end); bare DECIMAL
    # defaults to Spark's decimal(10,0).
}

_CREATE_TYPE_RE = re.compile(
    r"^\s*CREATE\s+TYPE\s+(?P<name>\w+)\s*=\s*(?P<body>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_VARIANT_RE = re.compile(r"^(?P<name>\w+)\s*(?:\((?P<fields>[^)]*)\))?$")
_CREATE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<name>\w+)\s*\((?P<cols>.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<name>\w+)\s*(?:\((?P<cols>[^)]*)\))?\s*"
    r"VALUES\s*(?P<rows>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<name>\w+)\s+AS\s+(?P<query>SELECT\b.+)$",
    re.IGNORECASE | re.DOTALL,
)
# `txnlog` (the retired private log format) still parses here and in
# _ATTACH_TABLE_RE, so the engine can refuse it with a pointer to delta
_CTAS_LAKEHOUSE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<name>\w+)\s+FROM\s+"
    r"(?P<fmt>txnlog|delta|iceberg)\s+LOCATION\s+'(?P<path>[^']+)'"
    # parts may carry iceberg transform calls — one nesting level,
    # e.g. PARTITION BY (days(d), bucket(4, k))
    r"(?:\s+PARTITION\s+BY\s*\((?P<parts>(?:[^()]|\([^()]*\))+)\))?"
    r"\s+AS\s+(?P<query>SELECT\b.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_TABLE_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_TABLE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+(?P<action>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_ADD_RE = re.compile(
    r"^ADD\s+COLUMN\s+(?P<col>\w+)\s*(?::\s*|\s+)(?P<type>\w+)"
    r"(?:\s+DEFAULT\s+(?P<default>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_RE = re.compile(
    r"^DROP\s+COLUMN\s+(?P<col>\w+)$", re.IGNORECASE
)
_ALTER_RENAME_RE = re.compile(
    r"^RENAME\s+COLUMN\s+(?P<old>\w+)\s+TO\s+(?P<new>\w+)$", re.IGNORECASE
)
_COPY_TO_RE = re.compile(
    r"^\s*COPY\s+(?:(?P<name>\w+)|\((?P<query>.+)\))\s+TO\s+'(?P<path>[^']+)'"
    r"(?:\s*\(\s*(?P<opts>[^()]*?)\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COPY_FROM_RE = re.compile(
    r"^\s*COPY\s+(?P<name>\w+)\s+FROM\s+'(?P<path>[^']+)'"
    r"(?:\s*\(\s*FORMAT\s+(?P<fmt>\w+)\s*\))?\s*;?\s*$",
    re.IGNORECASE,
)
COPY_FORMATS = ("parquet", "csv", "json", "orc")


def parse_copy_to_options(opts: str | None) -> tuple[str | None, bool]:
    """Parse the COPY … TO option list: ``(FORMAT fmt[, OVERWRITE])``
    in any order. Returns ``(format, overwrite)``. An existing target
    directory is an error unless OVERWRITE is given — a silent
    ``mode("overwrite")`` would let any export clobber an arbitrary
    writable path (round-4 ADVICE)."""
    fmt: str | None = None
    overwrite = False
    for raw in (opts or "").split(","):
        tok = raw.strip()
        if not tok:
            continue
        m = re.fullmatch(r"FORMAT\s+(\w+)", tok, re.IGNORECASE)
        if m:
            fmt = m.group(1)
        elif tok.upper() == "OVERWRITE":
            overwrite = True
        else:
            raise ValueError(
                f"COPY TO: unknown option {tok!r} "
                "(supported: FORMAT <fmt>, OVERWRITE)"
            )
    return fmt, overwrite
_EXPLAIN_RE = re.compile(
    r"^\s*EXPLAIN"
    r"(?:\s+(?P<mode>FORMATTED|EXTENDED|CODEGEN|COST|SCALE|ANALYZE))?"
    r"\s+(?P<query>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SHOW_CREATE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE
)
_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?(?P<name>\w+)\s*;?\s*$", re.IGNORECASE
)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<target>\w+)\s+USING\s+(?P<source>\w+)"
    r"\s+ON\s+(?P<cond>.+?)"
    r"(?:\s+WHEN\s+MATCHED\s+THEN\s+"
    r"(?:UPDATE\s+SET\s+(?P<sets>.+?)|(?P<mdel>DELETE)))?"
    r"(?:\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+VALUES\s*\((?P<ins>.+)\))?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+TABLES\s*;?\s*$", re.IGNORECASE)

# UPSERT INTO t BY KEY (k1, k2) [TXN ('app', 7)] SELECT … | <table>
# — the SQL surface for the keyed equality-delete upsert (CDC ingest):
# one snapshot lands the batch + a delete file of its keys, O(batch)
# regardless of table size. The optional TXN clause carries the
# exactly-once replay mark a redelivered statement no-ops on.
_UPSERT_RE = re.compile(
    r"^\s*UPSERT\s+INTO\s+(?P<target>\w+)\s+BY\s+KEY\s*"
    r"\((?P<keys>[\w\s,]+)\)"
    r"(?:\s+TXN\s*\(\s*'(?P<app>[^']*)'\s*,\s*(?P<txnv>\d+)\s*\))?"
    r"\s+(?P<src>SELECT\b.+|\w+)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_OPTIMIZE_TABLE_RE = re.compile(
    r"^\s*OPTIMIZE\s+TABLE\s+(?P<name>\w+)"
    r"(?:\s+ZORDER\s+BY\s+\((?P<cols>[\w\s,]+)\))?\s*;?\s*$",
    re.IGNORECASE,
)
_VACUUM_TABLE_RE = re.compile(
    r"^\s*VACUUM\s+(?P<name>\w+)(?:\s+RETAIN\s+(?P<retain>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)
_REFRESH_TABLE_RE = re.compile(
    r"^\s*REFRESH\s+TABLE\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE
)

_ATTACH_TABLE_RE = re.compile(
    r"^\s*ATTACH\s+TABLE\s+(?P<name>\w+)\s+FROM\s+"
    r"(?P<fmt>txnlog|delta|iceberg)\s+LOCATION\s+'(?P<path>[^']+)'"
    r"(?:\s+VERSION\s+(?P<version>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)
# dispatch head only: the parameter list may nest parens (defaults
# like `rate := base_rate()`), so the parser scans them manually
_CREATE_FUNCTION_RE = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?FUNCTION\s+(?P<name>\w+)\s*\(",
    re.IGNORECASE,
)
_DROP_FUNCTION_RE = re.compile(
    r"^\s*DROP\s+FUNCTION\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE
)
_SHOW_FUNCTIONS_RE = re.compile(r"^\s*SHOW\s+FUNCTIONS\s*;?\s*$", re.IGNORECASE)
_ANALYZE_RE = re.compile(
    r"^\s*ANALYZE\s+(?:TABLE\s+)?(?P<name>\w+)\s*;?\s*$", re.IGNORECASE
)
_SHOW_STATS_RE = re.compile(
    r"^\s*SHOW\s+STATS\s+(?:FOR\s+)?(?P<name>\w+)\s*;?\s*$", re.IGNORECASE
)
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?VIEW\s+(?P<name>\w+)"
    r"\s+AS\s+(?P<query>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_MATVIEW_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?P<name>\w+)\s+AS\s+(?P<query>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MATVIEW_RE = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE
)
_DROP_MATVIEW_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_DESCRIBE_HISTORY_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+HISTORY\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE
)
_SHOW_TBLPROPS_RE = re.compile(
    r"^\s*SHOW\s+TBLPROPERTIES\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE
)
_RESTORE_TABLE_RE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+(?P<name>\w+)\s+TO\s+"
    r"(?:VERSION\s+AS\s+OF\s+(?P<ver>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')\s*;?\s*$",
    re.IGNORECASE,
)
_DESCRIBE_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?(?P<name>\w+)\s*;?\s*$", re.IGNORECASE
)
# `col: Variant` head — an identifier, a single colon (:: cast never
# matches: the variant side can't start with ':'), an Uppercase
# variant name. The optional binding list follows as a balanced-paren
# span scanned manually (regex can't nest — `Wrap(Circle(r))`).
_PATTERN_HEAD_RE = re.compile(
    r"(?<![:\w.])(?P<col>[A-Za-z_]\w*)\s*:\s*(?P<variant>[A-Z]\w*)"
)
_NESTED_PAT_RE = re.compile(
    r"^(?P<variant>[A-Z]\w*)\s*(?:\((?P<binds>.*)\))?$", re.DOTALL
)


def spark_type(name: str) -> str:
    """Map a reference/Spark type name to Spark DDL (passthrough if unknown)."""
    return _TYPE_MAP.get(name.strip().lower(), name.strip().lower())


def parse_create_type(
    stmt: str, types: Mapping[str, AdtType] | None = None
) -> AdtType:
    """Parse ``CREATE TYPE T = A(x: T1) | B(T2, T3) | C``.

    Named fields (``x: Double``) and the reference's positional form
    (``Circle(Double)``) both work; positional payloads get tuple-style
    field names ``_1, _2, …`` (bindings are positional either way).
    A field type naming a PREVIOUSLY DECLARED ADT (via ``types``)
    makes that field the nested tagged-struct encoding — sum types
    compose (``CREATE TYPE Obj = Wrap(inner: Shape) | Empty``).
    """
    m = _CREATE_TYPE_RE.match(stmt)
    if not m:
        raise AdtError(f"not a CREATE TYPE statement: {stmt!r}")

    def resolve(type_name: str):
        type_name = type_name.strip()
        if types and type_name in types:
            return types[type_name]
        return spark_type(type_name)

    variants = []
    for part in m.group("body").split("|"):
        vm = _VARIANT_RE.match(part.strip())
        if not vm:
            raise AdtError(f"bad variant declaration: {part.strip()!r}")
        fields = []
        if vm.group("fields") and vm.group("fields").strip():
            for i, f in enumerate(vm.group("fields").split(",")):
                fname, colon, ftype = f.partition(":")
                if colon:
                    if not ftype.strip():
                        raise AdtError(f"variant field needs a type: {f.strip()!r}")
                    fields.append((fname.strip(), resolve(ftype)))
                else:
                    fields.append((f"_{i + 1}", resolve(fname)))
        variants.append(Variant(vm.group("name"), fields))
    return AdtType(m.group("name"), variants)


class TableDef:
    """Catalog entry: ordered (column → Spark DDL or AdtType)."""

    def __init__(self, name: str, columns: Mapping[str, str | AdtType]):
        self.name = name
        self.columns = dict(columns)

    def schema_ddl(self) -> str:
        parts = []
        for col, typ in self.columns.items():
            ddl = typ.schema_ddl() if isinstance(typ, AdtType) else typ
            parts.append(f"{col} {ddl}")
        return ", ".join(parts)

    @property
    def adt_columns(self) -> dict[str, AdtType]:
        return {c: t for c, t in self.columns.items() if isinstance(t, AdtType)}


def parse_create_table(stmt: str, types: Mapping[str, AdtType]) -> TableDef:
    """Parse ``CREATE TABLE t (col: Type, …)`` (``col Type`` also accepted).

    A column type naming a declared ADT makes that column the tagged-
    struct encoding; anything else resolves via :func:`spark_type`.
    """
    m = _CREATE_TABLE_RE.match(stmt)
    if not m:
        raise AdtError(f"not a CREATE TABLE statement: {stmt!r}")
    columns: dict[str, str | AdtType] = {}
    for coldef in _split_top_level(m.group("cols"), ","):
        coldef = coldef.strip()
        if not coldef:
            continue
        if ":" in coldef:
            cname, _, ctype = coldef.partition(":")
        else:
            cname, _, ctype = coldef.partition(" ")
        cname, ctype = cname.strip(), ctype.strip()
        if not cname or not ctype:
            raise AdtError(f"bad column declaration: {coldef!r}")
        if ctype in types:
            columns[cname] = types[ctype]
        else:
            columns[cname] = spark_type(ctype)
    if not columns:
        raise AdtError(f"CREATE TABLE {m.group('name')} declares no columns")
    return TableDef(m.group("name"), columns)


def _split_top_level(s: str, sep: str) -> list[str]:
    """Split on `sep` outside parentheses and single-quoted strings."""
    parts, depth, in_str, cur = [], 0, False, []
    for ch in s:
        if in_str:
            cur.append(ch)
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


_CTOR_RE = re.compile(r"^\s*(?P<variant>[A-Z]\w*)\s*(?:\((?P<args>.*)\))?\s*$", re.DOTALL)


def _value_expr(raw: str, typ: str | AdtType, types: Mapping[str, AdtType]) -> str:
    """One VALUES cell → a Spark SQL expression string of the right type."""
    raw = raw.strip()
    if isinstance(typ, AdtType):
        m = _CTOR_RE.match(raw)
        if not m or m.group("variant") not in typ.tags:
            if raw.upper() == "NULL":
                return f"CAST(NULL AS {typ.schema_ddl()})"
            raise AdtError(
                f"expected a {typ.name} constructor ({'|'.join(typ.tags)}), got {raw!r}"
            )
        variant = typ._by_name[m.group("variant")]
        args = [a for a in _split_top_level(m.group("args") or "", ",") if a.strip()]
        if len(args) != len(variant.fields):
            raise AdtError(
                f"{typ.name}.{variant.name} takes {len(variant.fields)} "
                f"argument(s), got {len(args)}"
            )
        # build the full tagged struct as SQL: named_struct over every slot
        parts = [f"'{variant.name}' AS tag"]
        for v in typ.variants:
            if v.name == variant.name and v.fields:
                inner = ", ".join(
                    f"CAST({_value_expr(a, t, types)} AS {field_ddl(t)}) AS {f}"
                    for a, (f, t) in zip(args, v.fields)
                )
                parts.append(f"struct({inner}) AS {v.slot}")
            elif v.name == variant.name:
                parts.append(f"struct(true AS _unit) AS {v.slot}")
            else:
                parts.append(f"CAST(NULL AS {typ._slot_ddl(v)}) AS {v.slot}")
        return "struct(" + ", ".join(parts) + ")"
    return f"CAST({raw} AS {typ})"


def parse_insert_rows(
    stmt: str, table: TableDef, types: Mapping[str, AdtType]
) -> tuple[str, list[list[str]]]:
    """Parse INSERT; return (table_name, each row's typed cell
    expressions in declared table order)."""
    m = _INSERT_RE.match(stmt)
    if not m:
        raise AdtError(f"not an INSERT statement: {stmt!r}")
    cols = list(table.columns)
    if m.group("cols"):
        declared = [c.strip() for c in m.group("cols").split(",")]
        if set(declared) != set(cols):
            raise AdtError(
                f"INSERT column list {declared} must cover {cols} exactly"
            )
        cols = declared
    rows = []
    for tup in _split_top_level(m.group("rows"), ","):
        tup = tup.strip()
        if not (tup.startswith("(") and tup.endswith(")")):
            raise AdtError(f"bad VALUES tuple: {tup!r}")
        cells = _split_top_level(tup[1:-1], ",")
        if len(cells) != len(cols):
            raise AdtError(
                f"VALUES tuple has {len(cells)} cells, table {table.name} "
                f"expects {len(cols)}"
            )
        by_col = dict(zip(cols, cells))
        rows.append([
            _value_expr(by_col[c], typ, types)
            for c, typ in table.columns.items()
        ])
    return m.group("name"), rows


# -- pattern rewriting ----------------------------------------------------


def _mask_strings(sql: str) -> tuple[str, list[str]]:
    """Replace single-quoted literals with placeholders (scan safety)."""
    out, i = [], 0
    saved: list[str] = []
    while i < len(sql):
        if sql[i] == "'":
            j = i + 1
            while j < len(sql):
                if sql[j] == "'" and not (j + 1 < len(sql) and sql[j + 1] == "'"):
                    break
                j += 2 if sql[j] == "'" else 1
            saved.append(sql[i : j + 1])
            out.append(f"\x00{len(saved) - 1}\x00")
            i = j + 1
        else:
            out.append(sql[i])
            i += 1
    return "".join(out), saved


def _unmask_strings(sql: str, saved: list[str]) -> str:
    return re.sub(r"\x00(\d+)\x00", lambda m: saved[int(m.group(1))], sql)


def rewrite_patterns(
    sql: str,
    adt_columns: Mapping[str, AdtType],
    known_columns: set[str] | None = None,
) -> str:
    """Rewrite every ``col: Variant(bindings)`` atom in a statement.

    The atom becomes ``(col.tag = 'Variant')``; each binding name is
    then substituted throughout the statement with its payload access
    (``col.slot.field``, positional against the variant's declared
    fields; ``_`` skips a position). Arity and unknown-variant errors
    surface at rewrite (plan) time, mirroring the reference's
    typechecker. ``known_columns`` guards against a binding shadowing
    a real column.
    """
    masked, saved = _mask_strings(sql)
    bindings: dict[str, str] = {}

    def _bind(name: str, access: str) -> None:
        if known_columns and name in known_columns:
            raise AdtError(
                f"binding {name!r} shadows a real column — rename the binding"
            )
        if name in bindings:
            raise AdtError(f"binding {name!r} bound twice in one statement")
        bindings[name] = access

    def _compile(access: str, adt: AdtType, vname: str, binds_src: str | None) -> list[str]:
        """One pattern (possibly nested) → list of tag conjuncts;
        bindings accumulate as payload accesses."""
        if vname not in adt.tags:
            raise AdtError(f"{adt.name} has no variant {vname!r}")
        variant = adt._by_name[vname]
        conds = [f"{access}.tag = '{vname}'"]
        binds = [
            b.strip()
            for b in _split_top_level(binds_src or "", ",")
            if b.strip()
        ]
        if binds and len(binds) != len(variant.fields):
            raise AdtError(
                f"{adt.name}.{vname} has {len(variant.fields)} field(s), "
                f"pattern binds {len(binds)}"
            )
        for b, (fname, ftype) in zip(binds, variant.fields):
            if b == "_":
                continue
            sub_access = f"{access}.{variant.slot}.{fname}"
            nm = _NESTED_PAT_RE.match(b)
            if nm and isinstance(ftype, AdtType) and nm.group("variant") in ftype.tags:
                # nested pattern on an ADT-typed field: recurse
                conds.extend(
                    _compile(sub_access, ftype, nm.group("variant"), nm.group("binds"))
                )
            elif nm and nm.group("binds") is not None:
                kind = ftype.name if isinstance(ftype, AdtType) else str(ftype)
                raise AdtError(
                    f"nested pattern {b!r} on field {fname!r} of type "
                    f"{kind} — not a matching ADT variant"
                )
            else:
                _bind(b, sub_access)
        return conds

    # scan pattern heads left-to-right; a following '(' opens a
    # balanced binding span (nested patterns make it recursive)
    pieces: list[str] = []
    pos = 0
    for m in _PATTERN_HEAD_RE.finditer(masked):
        if m.start() < pos:
            continue  # inside a previously consumed binding span
        col, vname = m.group("col"), m.group("variant")
        adt = adt_columns.get(col)
        if adt is None:
            raise AdtError(
                f"pattern on {col!r}: not a known ADT column "
                f"(have {sorted(adt_columns)})"
            )
        end = m.end()
        binds_src: str | None = None
        j = end
        while j < len(masked) and masked[j].isspace():
            j += 1
        if j < len(masked) and masked[j] == "(":
            depth = 0
            for k in range(j, len(masked)):
                if masked[k] == "(":
                    depth += 1
                elif masked[k] == ")":
                    depth -= 1
                    if depth == 0:
                        binds_src = masked[j + 1 : k]
                        end = k + 1
                        break
            else:
                raise AdtError(f"unbalanced parentheses in pattern after {col}: {vname}")
        conds = _compile(col, adt, vname, binds_src)
        pieces.append(masked[pos : m.start()])
        pieces.append("(" + " AND ".join(conds) + ")")
        pos = end
    pieces.append(masked[pos:])
    rewritten = "".join(pieces)
    for b, access in bindings.items():
        def _subst(m: re.Match, b=b, access=access) -> str:
            # a binding standing alone as a select-list item keeps its
            # name: `SELECT k, b FROM …` → `…, col.slot.fld AS b` —
            # otherwise the output column would be named after the
            # payload field, not the user's binding
            before = m.string[: m.start()].rstrip()
            after = m.string[m.end() :].lstrip()
            is_item_start = before.endswith(",") or re.search(
                r"(?i)select(\s+distinct)?$", before
            )
            is_item_end = after.startswith(",") or re.match(r"(?i)from\b", after)
            if is_item_start and is_item_end:
                return f"{access} AS {b}"
            return access

        # trailing '.' allowed: a whole-struct binding (ADT-typed
        # field) is used as `x.tag` / `x.slot.field` — the access
        # substitutes and the suffix stays. `x(` stays excluded
        # (function call), `a.x` stays excluded (qualified name).
        rewritten = re.sub(rf"(?<![\w.]){re.escape(b)}(?![\w(])", _subst, rewritten)
    return _unmask_strings(rewritten, saved)


# -- MATCH expressions ----------------------------------------------------

_MATCH_RE = re.compile(r"(?i)\bMATCH\s+(?P<col>[A-Za-z_]\w*)\s*\{")


def _find_matching_brace(s: str, open_idx: int) -> int:
    depth, in_str = 0, False
    for j in range(open_idx, len(s)):
        ch = s[j]
        if in_str:
            in_str = ch != "'"
        elif ch == "'":
            in_str = True
        elif ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                return j
    raise AdtError("unterminated MATCH block")


_ARM_RE = re.compile(
    r"^\s*(?:(?P<wild>_)|(?P<variant>[A-Z]\w*)\s*(?:\((?P<binds>[^()]*)\))?)\s*=>\s*(?P<expr>.+)$",
    re.DOTALL,
)


def rewrite_match_exprs(sql: str, adt_columns: Mapping[str, AdtType]) -> str:
    """Rewrite ``MATCH col { Variant(b) => expr, …, _ => expr }`` to a
    CASE ladder, enforcing the reference's EXHAUSTIVENESS rule at plan
    time: every declared variant needs an arm, or a ``_`` default.
    Bindings are arm-local (substituted only inside that arm's expr).
    """
    while True:
        masked, saved = _mask_strings(sql)
        m = _MATCH_RE.search(masked)
        if not m:
            return sql
        col = m.group("col")
        adt = adt_columns.get(col)
        if adt is None:
            raise AdtError(
                f"MATCH on {col!r}: not a known ADT column (have {sorted(adt_columns)})"
            )
        open_idx = masked.index("{", m.end() - 1)
        close_idx = _find_matching_brace(masked, open_idx)
        body = masked[open_idx + 1 : close_idx]
        covered: set[str] = set()
        default_expr = None
        whens: list[str] = []
        for arm_src in _split_top_level(body, ","):
            if not arm_src.strip():
                continue
            am = _ARM_RE.match(arm_src)
            if not am:
                raise AdtError(f"bad MATCH arm: {arm_src.strip()!r}")
            expr = am.group("expr").strip()
            if am.group("wild"):
                default_expr = expr
                continue
            vname = am.group("variant")
            if vname not in adt.tags:
                raise AdtError(f"{adt.name} has no variant {vname!r}")
            if vname in covered:
                raise AdtError(f"duplicate MATCH arm for {vname!r}")
            covered.add(vname)
            variant = adt._by_name[vname]
            binds = [
                b.strip() for b in (am.group("binds") or "").split(",") if b.strip()
            ]
            if binds and len(binds) != len(variant.fields):
                raise AdtError(
                    f"{adt.name}.{vname} has {len(variant.fields)} field(s), "
                    f"MATCH arm binds {len(binds)}"
                )
            for b, (fname, _t) in zip(binds, variant.fields):
                if b == "_":
                    continue
                expr = re.sub(
                    rf"(?<![\w.]){re.escape(b)}(?![\w.(])",
                    f"{col}.{variant.slot}.{fname}",
                    expr,
                )
            whens.append(f"WHEN {col}.tag = '{vname}' THEN {expr}")
        missing = set(adt.tags) - covered
        if missing and default_expr is None:
            raise AdtError(
                f"{adt.name}: non-exhaustive MATCH — missing {sorted(missing)} "
                f"(add arms or `_ =>`)"
            )
        case = "CASE " + " ".join(whens)
        if default_expr is not None:
            case += f" ELSE {default_expr}"
        case += " END"
        masked = masked[: m.start()] + case + masked[close_idx + 1 :]
        sql = _unmask_strings(masked, saved)


# -- DELETE / UPDATE (view-rewrite lowering) ------------------------------

_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<name>\w+)\s*(?:WHERE\s+(?P<pred>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<name>\w+)\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<pred>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def parse_update_sets(sets: str) -> list[tuple[str, str]]:
    """``col = expr, col2 = expr2`` → [(col, expr), …]."""
    out = []
    for part in _split_top_level(sets, ","):
        col, eq, expr = part.partition("=")
        if not eq or not col.strip() or not expr.strip():
            raise AdtError(f"bad SET clause: {part.strip()!r}")
        out.append((col.strip(), expr.strip()))
    return out


def parse_create_function(stmt: str) -> tuple[str, list[str], str, bool]:
    """``CREATE [OR REPLACE] FUNCTION f(a, b) AS <scalar expr>`` →
    (name, params, body, replace). DuckDB-style scalar SQL macro:
    the body is an expression template over the parameter names,
    textually inlined at call sites (no runtime dispatch — the
    optimizer sees the expanded expression, so pushdown/codegen are
    unaffected)."""
    m = _CREATE_FUNCTION_RE.match(stmt)
    if not m:
        raise AdtError(f"not a CREATE FUNCTION statement: {stmt!r}")
    name = m.group("name").lower()
    open_idx = stmt.index("(", m.end() - 1)
    close_idx = _find_matching_paren(stmt, open_idx)
    raw = stmt[open_idx + 1 : close_idx].strip()
    rest = stmt[close_idx + 1 :].strip()
    mb = re.match(r"(?is)^AS\s+(?P<body>.+?)\s*;?\s*$", rest)
    if not mb:
        raise AdtError(f"CREATE FUNCTION {name}: expected AS <body>")
    params: list[tuple[str, str | None]] = []
    if raw:
        for item in _split_top_level(raw, ","):
            pname, sep, default = item.partition(":=")
            pname = pname.strip()
            if not re.fullmatch(r"\w+", pname or ""):
                raise AdtError(f"CREATE FUNCTION {name}: bad parameter {item!r}")
            if sep and not default.strip():
                raise AdtError(
                    f"CREATE FUNCTION {name}: empty default for {pname!r}"
                )
            params.append((pname.lower(), default.strip() if sep else None))
    if len(set(pn for pn, _ in params)) != len(params):
        raise AdtError(f"CREATE FUNCTION {name}: duplicate parameter names")
    # defaults only at the tail (call sites bind positionally)
    seen_default = False
    for pn, d in params:
        if d is not None:
            seen_default = True
        elif seen_default:
            raise AdtError(
                f"CREATE FUNCTION {name}: required parameter {pn!r} after "
                "a defaulted one"
            )
    body = mb.group("body").strip()
    if not body:
        raise AdtError(f"CREATE FUNCTION {name}: empty body")
    return name, params, body, bool(m.group("replace"))


_MACRO_DEPTH_CAP = 10


def expand_macros(sql: str, macros: Mapping[str, tuple[list[str], str]]) -> str:
    """Inline every ``name(args…)`` call of a declared macro.

    Textual expansion with the usual hygiene rules: string literals
    are masked first (a macro name inside quotes never expands), each
    argument is parenthesized before substitution (so ``a + b`` passed
    into ``x * 2`` becomes ``(a + b) * 2``), parameter names replace
    only whole words, and nested/recursive expansion is bounded by a
    depth cap that turns macro recursion into a loud error instead of
    a hang. Matching is case-insensitive like SQL identifiers."""
    if not macros:
        return sql
    for _ in range(_MACRO_DEPTH_CAP):
        masked, saved = _mask_strings(sql)
        changed = False
        for name, (params, body) in macros.items():
            pat = re.compile(rf"\b{re.escape(name)}\s*\(", re.IGNORECASE)
            pos = 0
            while True:
                m = pat.search(masked, pos)
                if not m:
                    break
                open_idx = masked.index("(", m.end() - 1)
                close_idx = _find_matching_paren(masked, open_idx)
                inner = masked[open_idx + 1 : close_idx]
                args = (
                    [a.strip() for a in _split_top_level(inner, ",")]
                    if inner.strip()
                    else []
                )
                # normalize: params may be plain names or (name, default)
                spec = [
                    p if isinstance(p, tuple) else (p, None) for p in params
                ]
                n_required = sum(1 for _, d in spec if d is None)
                if not (n_required <= len(args) <= len(spec)):
                    want = (
                        str(len(spec))
                        if n_required == len(spec)
                        else f"{n_required}..{len(spec)}"
                    )
                    raise AdtError(
                        f"macro {name} expects {want} argument(s), "
                        f"got {len(args)}"
                    )
                full_args = list(args) + [
                    d for _, d in spec[len(args) :]
                ]
                # SIMULTANEOUS substitution: params go to opaque
                # placeholders first, then placeholders to argument
                # text. Sequential re.sub would re-substitute an
                # argument that happens to name a LATER parameter
                # (macro a(a0, b) called as a(b, 0) turned the first
                # argument's `b` into the second's `0` — caught by the
                # hypothesis hygiene property).
                expanded = body
                for idx, (p, _) in enumerate(spec):
                    expanded = re.sub(
                        rf"\b{re.escape(p)}\b",
                        f"\x01{idx}\x01",
                        expanded,
                        flags=re.IGNORECASE,
                    )
                for idx, a in enumerate(full_args):
                    expanded = expanded.replace(f"\x01{idx}\x01", f"({a})")
                replacement = f"({expanded})"
                masked = masked[: m.start()] + replacement + masked[close_idx + 1 :]
                # resume AFTER the expansion: rescanning it in the same
                # round would spin forever on a self-recursive macro
                # before the outer depth cap could fire — nested calls
                # expand on the next round instead
                pos = m.start() + len(replacement)
                changed = True
        sql = _unmask_strings(masked, saved)
        if not changed:
            return sql
    raise AdtError(
        f"macro expansion did not terminate in {_MACRO_DEPTH_CAP} rounds "
        "(recursive macro?)"
    )


def _find_matching_paren(s: str, open_idx: int) -> int:
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise AdtError("unbalanced parentheses")


# -- QUALIFY clause -------------------------------------------------------

_QUALIFY_KW_RE = re.compile(r"(?i)\bQUALIFY\b")
_QUALIFY_TAIL_RE = re.compile(r"(?i)\b(ORDER\s+BY|LIMIT)\b")
_QUALIFY_SETOP_RE = re.compile(r"(?i)\b(UNION|INTERSECT|EXCEPT)\b")
_QUALIFY_FROM_RE = re.compile(r"(?i)\bFROM\b")


def _depth_at(masked: str, idx: int) -> int:
    return masked.count("(", 0, idx) - masked.count(")", 0, idx)


def rewrite_qualify(sql: str) -> str:
    """Lower a DuckDB/Snowflake-style top-level QUALIFY clause.

        SELECT <list> FROM <rel> [WHERE ...] QUALIFY <pred> [tail]
          ->
        SELECT * EXCEPT (__qualify)
        FROM (SELECT <list>, (<pred>) AS __qualify FROM <rel> ...) t
        WHERE __qualify [tail]

    The predicate is computed INSIDE the projection, so it may
    reference raw window functions or select-list aliases (Spark's
    lateral column alias resolution covers the alias case) — the
    post-window filter semantics QUALIFY defines. String literals are
    masked during the scan; only the outermost SELECT's QUALIFY is
    lowered (one QUALIFY per SELECT, as in the source dialects).
    """
    masked, saved = _mask_strings(sql)
    q = next(
        (m for m in _QUALIFY_KW_RE.finditer(masked) if _depth_at(masked, m.start()) == 0),
        None,
    )
    if q is None:
        return sql
    # a depth-0 set operation in a QUALIFY query is unsupported: after
    # QUALIFY the UNION branch would be swallowed into the predicate
    # (the tail scan only knows ORDER BY/LIMIT) and before it the
    # lowering would wrap ALL branches instead of just the last —
    # either way silently-wrong SQL, so refuse with a clear error
    setop = next(
        (
            m
            for m in _QUALIFY_SETOP_RE.finditer(masked)
            if _depth_at(masked, m.start()) == 0
        ),
        None,
    )
    if setop is not None:
        raise AdtError(
            "QUALIFY is not supported in set-operation queries; apply it "
            "inside a parenthesized subquery branch instead"
        )
    t = next(
        (
            m
            for m in _QUALIFY_TAIL_RE.finditer(masked, q.end())
            if _depth_at(masked, m.start()) == 0
        ),
        None,
    )
    pred = masked[q.end() : t.start() if t else len(masked)]
    pred = pred.strip().rstrip(";").strip()
    if not pred:
        raise AdtError("QUALIFY: empty predicate")
    tail = " " + masked[t.start() :].strip().rstrip(";") if t else ""
    inner = masked[: q.start()].strip()
    f = next(
        (m for m in _QUALIFY_FROM_RE.finditer(inner) if _depth_at(inner, m.start()) == 0),
        None,
    )
    if f is None:
        raise AdtError("QUALIFY requires a FROM clause")
    inner2 = (
        inner[: f.start()].rstrip()
        + f", ({pred}) AS __qualify "
        + inner[f.start() :]
    )
    out = (
        f"SELECT * EXCEPT (__qualify) FROM ({inner2}) __qualify_t "
        f"WHERE __qualify{tail}"
    )
    return _unmask_strings(out, saved)


# -- DISTINCT ON ----------------------------------------------------------

_DISTINCT_ON_RE = re.compile(
    r"(?is)^\s*SELECT\s+DISTINCT\s+ON\s*\("
)
_DO_ORDER_RE = re.compile(r"(?i)\bORDER\s+BY\b")
_DO_LIMIT_RE = re.compile(r"(?i)\bLIMIT\b")


def rewrite_distinct_on(sql: str) -> str:
    """Lower PostgreSQL ``SELECT DISTINCT ON (keys) list … ORDER BY
    keys, tiebreak`` to a rank-1 window subquery:

        SELECT * EXCEPT (__don_rn)
        FROM (SELECT list, row_number() OVER (PARTITION BY keys
              ORDER BY <order-by or keys>) AS __don_rn FROM …) t
        WHERE __don_rn = 1 [ORDER BY …] [LIMIT …]

    Postgres semantics preserved: the ORDER BY decides which row of
    each key group survives AND the final output order; with no ORDER
    BY the survivor is the keys-order arbitrary row (here made
    deterministic by ordering on the keys themselves)."""
    masked, saved = _mask_strings(sql)
    m = _DISTINCT_ON_RE.match(masked)
    if m is None:
        return sql
    open_idx = masked.index("(", m.end() - 1)
    close_idx = _find_matching_paren(masked, open_idx)
    keys = masked[open_idx + 1 : close_idx].strip()
    rest = masked[close_idx + 1 :].strip()  # "<list> FROM … [tail]"
    t = next(
        (
            x
            for x in _DO_ORDER_RE.finditer(rest)
            if _depth_at(rest, x.start()) == 0
        ),
        None,
    )
    lim = next(
        (
            x
            for x in _DO_LIMIT_RE.finditer(rest)
            if _depth_at(rest, x.start()) == 0
        ),
        None,
    )
    if t is not None:
        body = rest[: t.start()].rstrip()
        order = rest[t.start() : lim.start() if lim else len(rest)]
        order = order.strip().rstrip(";")
        tail = " " + order
        win_order = re.sub(r"(?i)^ORDER\s+BY\s+", "", order)
    else:
        body = (rest[: lim.start()] if lim else rest).rstrip()
        tail = ""
        win_order = keys
    limit_tail = (
        " " + rest[lim.start() :].strip().rstrip(";") if lim else ""
    )
    if t is None:
        body = body.rstrip(";").rstrip()
    sel_m = re.match(r"(?is)^(?P<list>.*?)\bFROM\b", body)
    if sel_m is None:
        raise AdtError("DISTINCT ON requires a FROM clause")
    inner = (
        f"SELECT {sel_m.group('list').strip()}, row_number() OVER "
        f"(PARTITION BY {keys} ORDER BY {win_order}) AS __don_rn "
        f"{body[sel_m.end() - 4:]}"
    )
    out = (
        f"SELECT * EXCEPT (__don_rn) FROM ({inner}) __don_t "
        f"WHERE __don_rn = 1{tail}{limit_tail}"
    )
    return _unmask_strings(out, saved)
