"""Engine: session + catalog + SQL entry point.

Maps the reference's SQL surface onto LakehouseTable operations:

- `CREATE TABLE ... (cols) USING lakehouse PARTITIONED BY (...)
  TBLPROPERTIES (primaryKey=..., preCombineField=..., type=cow|mor)`
  and CTAS (reference M10 `SparkSqlCreateTableNode`,
  `test-suite/spark-sql-partition-cow-updates.yaml:20-30`; CTAS
  `spark-sql-nonpartitioned-external-cow-ctas.yaml`)
- `INSERT INTO t VALUES (...) | SELECT ...` (reference Q12)
- `INSERT OVERWRITE t SELECT ...` (reference M7/M8)
- `UPDATE t SET c = e [WHERE p]` (reference M5 `SparkSqlUpdateNode`)
- `DELETE FROM t [WHERE p]` (reference M4 `SparkSqlDeleteNode`)
- `MERGE INTO t USING s ON cond WHEN MATCHED ... WHEN NOT MATCHED ...`
  (reference M6, declared via `SparkSqlMergeNode`)
- `CALL proc(name => value, ...)`: one procedure registry
  (`_PROCEDURES`); the maintenance statements (COMPACT TABLE, CLUSTER
  TABLE, SAVEPOINT TABLE, RESTORE TABLE, VACUUM, SHOW INDEXES,
  DESCRIBE HISTORY) run the handler of the procedure they alias
- anything else: managed tables are registered as temp views and the
  statement passes through to Spark SQL unchanged (scan / filter /
  join / agg / SHOW ... — reference §2.3), so Catalyst owns the
  analytic path end-to-end.

The DML statements are recognized with a small, anchored grammar over
a LEXED view of the statement: `sql/lexer.py` masks the contents of
string literals and backtick-quoted identifiers (same-length filler),
the clause patterns run against the masked text, and every captured
fragment is sliced from the original by span. Keywords inside strings
(`'... WHEN MATCHED ...'`) or identifiers (`` `where` ``) can
therefore never steer clause detection, while all *expressions*
(SET clauses, predicates, select lists) still reach Spark SQL
byte-exact — we never interpret expression semantics ourselves.
"""

from __future__ import annotations

import os
import re
from functools import partial
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onehouse_demos_spark.sql.lexer import (
    mask_literals,
    match_masked,
    split_once_top_level,
    split_top_level as _split_top_level,
    strip_comments,
    strip_ident_quotes,
    sub_masked,
)
from onehouse_demos_spark.sql.predicate import (
    SqlParseError,
    find_top_level_keyword,
    split_top_level_keyword,
    tokenize,
    validate_expression,
)
from onehouse_demos_spark.tables import maintenance
from onehouse_demos_spark.tables.table import (
    META_COLS,
    PP_COL,
    LakehouseTable,
    TableConfig,
    counted,
)
from onehouse_demos_spark.tables.timeline import Timeline

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.`]+)\s*"
    r"(?:\((?P<cols>.*?)\))?\s*"
    r"(?:USING\s+(?P<format>\w+))?\s*"
    r"(?:PARTITIONED\s+BY\s*\((?P<parts>[^)]*)\))?\s*"
    r"(?:TBLPROPERTIES\s*\((?P<props>[^)]*)\))?\s*"
    r"(?:LOCATION\s+'(?P<location>[^']+)')?\s*"
    r"(?:AS\s+(?P<ctas>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?(?P<name>[\w.`]+)\s*"
    r"(?:\((?P<cols>[^)]*)\))?\s*(?P<body>(?:VALUES|SELECT|TABLE)\s*.+)$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<name>[\w.`]+)\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<where>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<name>[\w.`]+)(?:\s+WHERE\s+(?P<where>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_ADD_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.`]+)\s+ADD\s+COLUMNS?\s*"
    r"\((?P<cols>.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_RENAME_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.`]+)\s+RENAME\s+COLUMN\s+"
    r"(?P<old>[\w`]+)\s+TO\s+(?P<new>[\w`]+)\s*$",
    re.IGNORECASE,
)
_ALTER_TYPE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.`]+)\s+"
    r"(?:ALTER|CHANGE)\s+COLUMN\s+(?P<col>[\w`]+)\s+TYPE\s+"
    r"(?P<dtype>.+?)\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.`]+)\s+DROP\s+COLUMNS?\s*"
    r"(?:\((?P<cols>[^)]+)\)|(?P<col>[\w`]+))\s*$",
    re.IGNORECASE,
)
_ALTER_PROPS_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.`]+)\s+SET\s+TBLPROPERTIES\s*"
    r"\((?P<props>[^)]*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SHOW_CREATE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+(?P<name>[\w.`]+)\s*$",
    re.IGNORECASE,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<if_exists>IF\s+EXISTS\s+)?(?P<name>[\w.`]+)\s*$",
    re.IGNORECASE,
)
_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+(?P<name>[\w.`]+)\s*$", re.IGNORECASE
)
# Hudi 1.0 index DDL analog: CREATE INDEX ON t (record_key | col |
# expr(...)); DROP INDEX ON t (target). The optional index name is
# accepted and ignored (the target defines identity here).
_CREATE_INDEX_RE = re.compile(
    r"^\s*CREATE\s+INDEX\s+(?:[\w`]+\s+)?ON\s+(?P<name>[\w.`]+)\s*"
    r"\((?P<target>.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_INDEX_RE = re.compile(
    r"^\s*DROP\s+INDEX\s+ON\s+(?P<name>[\w.`]+)\s*\((?P<target>.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COMPACT_RE = re.compile(
    r"^\s*COMPACT\s+TABLE\s+(?P<name>[\w.`]+)\s*$", re.IGNORECASE
)
_CLUSTER_RE = re.compile(
    r"^\s*CLUSTER\s+TABLE\s+(?P<name>[\w.`]+)\s+BY\s*\((?P<cols>[^)]+)\)"
    r"(?:\s+USING\s+(?P<strategy>LINEAR|ZORDER))?\s*$",
    re.IGNORECASE,
)
_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+(?P<name>[\w.`]+)(?:\s+RETAIN\s+(?P<n>\d+)\s+COMMITS)?\s*$",
    re.IGNORECASE,
)
_SAVEPOINT_RE = re.compile(
    r"^\s*SAVEPOINT\s+TABLE\s+(?P<name>[\w.`]+)"
    r"(?:\s+AT\s+'(?P<instant>[^']+)')?\s*$",
    re.IGNORECASE,
)
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+(?P<name>[\w.`]+)\s+TO\s+'(?P<instant>[^']+)'\s*$",
    re.IGNORECASE,
)
_VERSION_AS_OF_RE = re.compile(
    r"\b(?P<name>[\w.`]+)\s+VERSION\s+AS\s+OF\s+'(?P<instant>[^']+)'",
    re.IGNORECASE,
)
_TIMESTAMP_AS_OF_RE = re.compile(
    r"\b(?P<name>[\w.`]+)\s+TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)'",
    re.IGNORECASE,
)

_SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+TABLES\s*$", re.IGNORECASE)
# Hudi spark-sql `SHOW INDEXES FROM t` parity (same result shape as
# CALL show_indexes).
_SHOW_INDEXES_RE = re.compile(
    r"^\s*SHOW\s+INDEXES\s+(?:FROM|ON|IN)\s+(?P<name>[\w.`]+)\s*$",
    re.IGNORECASE,
)
_SHOW_PARTS_RE = re.compile(
    r"^\s*SHOW\s+PARTITIONS\s+(?P<name>[\w.`]+)\s*$", re.IGNORECASE
)
_DESCRIBE_RE = re.compile(
    r"^\s*(?:DESCRIBE|DESC)\s+(?:DETAIL\s+)?(?P<name>[\w.`]+)\s*$",
    re.IGNORECASE,
)
_HISTORY_RE = re.compile(
    r"^\s*(?:DESCRIBE|DESC)\s+HISTORY\s+(?P<name>[\w.`]+)\s*$",
    re.IGNORECASE,
)
_CHANGES_RE = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+CHANGES\s*\(\s*(?P<name>[\w.`]+)\s*,\s*"
    r"'(?P<begin>[^']*)'\s*(?:,\s*'(?P<end>[^']+)'\s*)?\)\s*$",
    re.IGNORECASE,
)

#: `CALL [catalog.][system.]proc(name => 'value', ...)` — the Hudi /
#: Iceberg spark-sql procedure surface. The reference registers the
#: converted Iceberg personality with exactly this shape
#: (hudi-spark-minio-trino/demo.md:225 `CALL hive_prod.system.
#: register_table(table => ..., metadata_file => ...)`).
_CALL_RE = re.compile(
    r"^\s*CALL\s+(?P<proc>[\w.`]+)\s*\((?P<args>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)

#: Header only — the ON condition / WHEN clause boundaries are found
#: by the paren- and CASE/END-aware splitter (sql/predicate.py), so a
#: `CASE WHEN ... THEN ... END` inside a condition never terminates
#: the clause (a lazy regex split would).
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<name>[\w.`]+)(?:\s+(?:AS\s+)?(?P<talias>\w+))?\s+"
    r"USING\s+(?P<source>[\w.`]+|\(.+?\))(?:\s+(?:AS\s+)?(?P<salias>\w+))?\s+"
    r"ON\s+(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _items(text: str, sep: str = ",") -> list[str]:
    return [x.strip() for x in text.split(sep) if x.strip()]


def _opt(value) -> str:
    return "" if value is None else str(value)


def _truthy(value: str) -> bool:
    """The one boolean rule of TBLPROPERTIES and CALL arguments."""
    return value.strip().lower() in ("true", "1", "yes")


def _unquote(text: str) -> str:
    """A quoted SQL literal's content with its doubled quote unescaped
    ('it''s' -> it's); unquoted text stripped, as is."""
    text = text.strip()
    if len(text) >= 2 and text[0] == text[-1] and text[0] in "'\"":
        return text[1:-1].replace(text[0] * 2, text[0])
    return text


def _parse_pairs(text: str | None) -> dict[str, str]:
    """The `key = value` list of TBLPROPERTIES and the `name => value`
    list of CALL, one parser: comma-separated at the top level, keys
    lowercased, keys and values unquoted. A bare value is keyed by its
    position ('0', '1', ...). `=`, `=>` or `,` inside a quoted value
    never splits."""
    out: dict[str, str] = {}
    pos = 0
    for part in _split_top_level(text or ""):
        if not part.strip():
            continue
        split = split_once_top_level(part, "=")
        if split is None:
            out[str(pos)] = _unquote(part)
            pos += 1
        else:
            out[_unquote(split[0]).lower()] = _unquote(split[1].lstrip(">"))
    return out


def _payload(value: str) -> str:
    if value not in ("overwrite", "partial_update"):
        raise ValueError(f"unknown payload {value!r}")
    return value


def _parse_validators(typ: str, text: str) -> list[dict]:
    """Pre-commit validators of one type from their TBLPROPERTIES value
    (Hudi hoodie.precommit.validators formats): ';'-separated SQL with
    <TABLE> placeholders; a single_result entry is 'query#expected'."""
    out: list[dict] = []
    for q in _items(text, ";"):
        if typ != "single_result":
            out.append(dict(type=typ, query=q))
        elif "#" in q:
            query, expected = q.rsplit("#", 1)
            out.append(
                dict(type=typ, query=query.strip(), expected=expected.strip())
            )
    return out


def _render_validators(validators: list[dict]) -> str:
    return ";".join(
        f"{v['query']}#{v['expected']}" if "expected" in v else v["query"]
        for v in validators
    )


class _Prop(NamedTuple):
    """One TBLPROPERTIES entry: its name as SHOW CREATE TABLE emits it
    (matched case-insensitively), the TableConfig field it sets, how
    its value parses and renders, and whether ALTER TABLE ... SET
    TBLPROPERTIES may change it. The three validator entries share
    `pre_commit_validators`, each owning the validators of its type."""

    sql: str
    field: str
    parse: Callable[[str], object] = str
    render: Callable[[object], str] = str
    mutable: bool = False
    validator: str | None = None

    @property
    def key(self) -> str:
        return self.sql.lower()

    def owns(self, validator: dict) -> bool:
        # setting the entry's type leaves a validator of that type as is
        return dict(validator, type=self.validator) == validator

    def get(self, cfg: TableConfig):
        value = getattr(cfg, self.field)
        if self.validator is None:
            return value
        return [v for v in value if self.owns(v)]

    def set(self, cfg: TableConfig, value) -> None:
        if self.validator is not None:
            others = [v for v in getattr(cfg, self.field) if not self.owns(v)]
            value = others + value
        setattr(cfg, self.field, value)


def _validator_prop(sql: str, typ: str) -> _Prop:
    return _Prop(
        sql,
        "pre_commit_validators",
        partial(_parse_validators, typ),
        _render_validators,
        mutable=True,
        validator=typ,
    )


_PRIMARY_KEY = _Prop("primaryKey", "record_key", _items, ",".join)

#: The TBLPROPERTIES <-> TableConfig mapping. CREATE TABLE, SHOW CREATE
#: TABLE, ALTER TABLE ... SET TBLPROPERTIES and CALL
#: show_table_properties all read it; SHOW CREATE emits the entries
#: that differ from their default, in this order.
_PROPS = (
    _PRIMARY_KEY,
    _Prop("preCombineField", "precombine", render=_opt),
    _Prop("type", "table_type"),
    # Hudi payload-class analog (overwrite | partial_update)
    _Prop("payload", "payload", _payload, mutable=True),
    # Hudi `hoodie.metadata.record.index.enable` analog
    _Prop("recordIndex", "record_index", _truthy, lambda b: str(b).lower()),
    _Prop("secondaryIndexes", "secondary_indexes", _items, ",".join),
    _Prop(
        "expressionIndexes",
        "expression_indexes",
        partial(_items, sep=";"),
        ";".join,
    ),
    # Hudi `hoodie.index.type=BUCKET` + `hoodie.bucket.index.num.buckets`
    # analog: probe-free hash routing of keys to a per-partition bucket set
    _Prop("bucketIndexBuckets", "bucket_index_buckets", int, _opt),
    # "modulo" (fixed count) | "consistent" (prefix-range buckets; a hot
    # bucket splits in O(bucket) via CALL split_bucket)
    _Prop("bucketIndexEngine", "bucket_engine"),
    # SQL expression -> partition path (expression-partitioned tables)
    _Prop("partitionExpr", "partition_expr", render=_opt),
    _Prop("indexScope", "index_scope"),
    _Prop("softDeleteCol", "soft_delete_col", render=_opt),
    _Prop("targetFileRows", "target_file_rows", int, mutable=True),
    _validator_prop("preCommitEqualitySql", "equality"),
    _validator_prop("preCommitInequalitySql", "inequality"),
    _validator_prop("preCommitSingleResultSql", "single_result"),
)
_PROP_BY_KEY = {p.key: p for p in _PROPS}


def _declared_config(name: str, m: re.Match) -> TableConfig:
    """The config a CREATE TABLE statement declares: its PARTITIONED BY
    columns and TBLPROPERTIES. An absent or empty property keeps its
    TableConfig default; unknown properties are ignored."""
    cfg = TableConfig(
        name=name,
        partition_by=[
            strip_ident_quotes(p.strip().split()[0])
            for p in _split_top_level(m.group("parts") or "")
            if p.strip()
        ],
    )
    props = _parse_pairs(m.group("props"))
    for p in _PROPS:
        if props.get(p.key):
            p.set(cfg, p.parse(props[p.key]))
    return cfg


def _is_table(base_path: str) -> bool:
    return os.path.exists(
        os.path.join(base_path, Timeline.COMMITS_DIR, "table_config.json")
    )


#: Sentinel: a literal cannot be losslessly represented in the
#: target column's type — the point probe must stand down.
_NO_COERCE = object()

_INT_RANGES = {
    T.ByteType: (-(2**7), 2**7 - 1),
    T.ShortType: (-(2**15), 2**15 - 1),
    T.IntegerType: (-(2**31), 2**31 - 1),
    T.LongType: (-(2**63), 2**63 - 1),
}


def _losslessly_typed(v, dt: T.DataType):
    """Coerce a WHERE-literal Python value to the exact value the
    column type `dt` persists, ONLY when the coercion provably keeps
    the set of matching rows identical to Spark's own comparison
    coercion; returns _NO_COERCE otherwise. Rules:
    - integer-family target: int (range-checked) or integral float —
      a fractional literal can't equal any integer row anyway, but
      its truncation probes the WRONG value, so it stands down;
    - double target: int/float exactly representable in a double;
    - string/boolean targets: exact Python type only (a numeric
      literal on a STRING key coerces the COLUMN — '5.00' matches 5 —
      which no single probe value covers);
    - anything else (decimal, date, timestamp, ...): stand down."""
    if v is None:
        return _NO_COERCE
    cls = type(dt)
    if cls in _INT_RANGES:
        if isinstance(v, bool):
            return _NO_COERCE
        if isinstance(v, float):
            if not v.is_integer():
                return _NO_COERCE
            v = int(v)
        if isinstance(v, int):
            lo, hi = _INT_RANGES[cls]
            return v if lo <= v <= hi else _NO_COERCE
        return _NO_COERCE
    if cls is T.DoubleType:
        if isinstance(v, bool):
            return _NO_COERCE
        if isinstance(v, float):
            return v
        if isinstance(v, int):
            f = float(v)
            return f if int(f) == v else _NO_COERCE
        return _NO_COERCE
    if cls is T.StringType:
        return v if isinstance(v, str) else _NO_COERCE
    if cls is T.BooleanType:
        return v if isinstance(v, bool) else _NO_COERCE
    return _NO_COERCE


#: Expression markers that make two EXECUTIONS of the same query
#: disagree: truly nondeterministic ones (deterministic=false in
#: Catalyst) plus per-execution-constant time functions (deterministic
#: WITHIN one execution, re-evaluated for the next).
_EXEC_VARYING_RE = re.compile(
    r"\b(rand|randn|uuid|shuffle|random|monotonically_increasing_id|"
    r"current_timestamp|current_date|now|localtimestamp|"
    r"current_timezone)\(|\bunix_timestamp\(\)",
    re.IGNORECASE,
)


def _plan_deterministic(df: DataFrame) -> bool:
    """True iff re-executing `df`'s plan provably yields the same
    rows: every expression in every node of the analyzed plan reports
    deterministic to Catalyst, and the plan mentions no
    per-execution-varying time function. Fails CLOSED (False) if the
    JVM walk breaks — callers use this to gate an optimization."""
    try:
        root = df._jdf.queryExecution().analyzed()
        if _EXEC_VARYING_RE.search(root.toString()):
            return False
        stack = [root]
        while stack:
            node = stack.pop()
            exprs = node.expressions()
            for i in range(exprs.size()):
                if not exprs.apply(i).deterministic():
                    return False
            kids = node.children()
            for i in range(kids.size()):
                stack.append(kids.apply(i))
        return True
    except Exception:
        return False


def _parens_balanced(txt: str) -> bool:
    """Literal-masked paren balance check (a ')' inside a string never
    counts)."""
    depth = 0
    for ch in mask_literals(txt):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0


_MATCHED_RE = re.compile(
    r"^\s*(?P<not>NOT\s+)?MATCHED\b"
    r"(?:\s+BY\s+(?P<by>SOURCE|TARGET)\b)?(?P<tail>.*)$",
    re.IGNORECASE | re.DOTALL,
)

#: left-hand sides the prunable-filter extractor accepts: a bare
#: column, or a single-argument function call of a column (the shape
#: expression indexes key on, e.g. `hour(ts)`).
_PRUNE_LHS = r"[A-Za-z_]\w*(?:\(\s*[A-Za-z_]\w*\s*\))?"
_PRUNE_CMP_RE = re.compile(
    rf"^(?P<lhs>{_PRUNE_LHS})\s*(?P<op><=|>=|=|<|>)\s*(?P<lit>.+)$",
    re.DOTALL,
)
_PRUNE_IN_RE = re.compile(
    rf"^(?P<lhs>{_PRUNE_LHS})\s+IN\s*\((?P<vals>.+)\)$",
    re.IGNORECASE | re.DOTALL,
)
_LIT_STR_RE = re.compile(r"^'(?:[^']|'')*'$", re.DOTALL)


def _sql_literal(s: str) -> tuple[bool, object]:
    """Parse an SQL literal fragment to its Python value. Returns
    (ok, value); non-literal fragments (column refs, subqueries,
    functions) report ok=False and are simply not pruned on."""
    s = s.strip()
    if _LIT_STR_RE.match(s):
        return True, s[1:-1].replace("''", "'")
    if re.fullmatch(r"[+-]?\d+", s):
        return True, int(s)
    if re.fullmatch(r"[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?", s):
        return True, float(s)
    if s.upper() == "TRUE":
        return True, True
    if s.upper() == "FALSE":
        return True, False
    return False, None


def _prunable_filters(where: str) -> list[tuple[str, str, object]]:
    """Extract the top-level AND conjuncts of a WHERE that have the
    shape `<column | f(column)> <op> <literal>` (ops = < <= > >= =) or
    `<column> IN (<literals>)` — exactly the fragment the manifest's
    min/max stats and the secondary/expression indexes can prune files
    with. Conservative by construction: a conjunct that doesn't match
    (OR trees, NOT, subqueries, non-literal operands) contributes no
    filter, and the caller ALWAYS re-applies the full WHERE row-level,
    so partial extraction only costs pruning opportunity — never rows.
    """
    out: list[tuple[str, str, object]] = []
    for conj in split_top_level_keyword(where, "AND"):
        conj = conj.strip()
        if not conj:
            continue
        if conj.startswith("(") and conj.endswith(")") and _parens_balanced(
            conj[1:-1]
        ):
            conj = conj[1:-1].strip()
        m = _PRUNE_IN_RE.match(conj)
        if m:
            vals = []
            for part in _split_top_level(m.group("vals")):
                ok, v = _sql_literal(part)
                if not ok:
                    vals = None
                    break
                vals.append(v)
            if vals:
                out.append((m.group("lhs"), "in", tuple(vals)))
            continue
        m = _PRUNE_CMP_RE.match(conj)
        if m:
            ok, v = _sql_literal(m.group("lit"))
            if ok:
                out.append((m.group("lhs"), m.group("op"), v))
    return out


class _Args:
    """One procedure call's arguments: lowercased names to values, the
    positional ones keyed '0', '1', ...; a None value counts as absent."""

    def __init__(self, proc: str, pairs: dict[str, str | None]):
        self.proc = proc
        self.pairs = {k: v for k, v in pairs.items() if v is not None}

    def opt(self, *names: str, default: str | None = None) -> str | None:
        return next((self.pairs[n] for n in names if n in self.pairs), default)

    def req(self, *names: str) -> str:
        value = self.opt(*names)
        if value is None:
            raise ValueError(
                f"CALL {self.proc}: missing required argument {names[0]!r}"
            )
        return value

    def integer(self, *names: str, default: int | None = None) -> int | None:
        value = self.opt(*names)
        return int(value) if value else default

    def flag(self, name: str) -> bool:
        return _truthy(self.opt(name, default="false"))


#: procedure name -> (handler, creates). A handler takes the engine,
#: the managed table its `table` argument names (or, when `creates`,
#: the normalized name of the table it creates) and its `_Args`, and
#: returns (rows, schema) for the result frame.
_PROCEDURES: dict[str, tuple[Callable, bool]] = {}


def _procedure(*names: str, creates: bool = False):
    def register(fn):
        for name in names:
            _PROCEDURES[name] = (fn, creates)
        return fn

    return register


def _procedure_form(proc: str, **groups: str):
    """The handler of a statement that is procedure `proc` under another
    syntax: each CALL argument is read from a pattern group."""
    return lambda self, t, m: self._run(
        proc, t, {arg: m.group(g) for arg, g in groups.items()}
    )


class Engine:
    """One warehouse of lakehouse tables + a SparkSession."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse_dir = warehouse_dir.rstrip("/")
        os.makedirs(self.warehouse_dir, exist_ok=True)
        self._tables: dict[str, LakehouseTable] = {}
        #: registered-by-location external tables (reference demo.md:
        #: 208,225): name -> (format, base_path). The engine does not
        #: own these files — DROP unregisters, never deletes.
        self._external: dict[str, tuple[str, str]] = {}
        #: engine-native tables attached via CREATE TABLE ... USING
        #: lakehouse LOCATION — live in `_tables` for full DML but are
        #: NOT owned: DROP unregisters, never deletes, and the attach
        #: is persisted in _external_tables.json like the other
        #: register-by-location formats, so it survives a restart.
        self._attached: dict[str, str] = {}
        #: lakehouse attaches whose location failed to load at
        #: discovery (transient FS error, unmounted store): kept out of
        #: `_tables` but still serialized by `_persist_external`, so a
        #: transient failure never permanently unregisters the table.
        #: A later successful attach clears the entry.
        self._quarantined: dict[str, str] = {}
        #: per-external-view metadata token at last registration —
        #: register_views() replays a personality's metadata tree only
        #: when this changes, not on every passthrough statement.
        self._external_view_tokens: dict[str, object] = {}
        self._discover()

    # ------------------------------------------------------------- catalog

    def _discover(self) -> None:
        """Attach tables already in the warehouse (S9 catalog role),
        plus persisted external registrations — like HMS entries, a
        registration survives an engine restart."""
        for name in sorted(os.listdir(self.warehouse_dir)):
            if _is_table(os.path.join(self.warehouse_dir, name)):
                self._tables[name] = LakehouseTable.load(
                    self.spark, os.path.join(self.warehouse_dir, name)
                )
        reg = os.path.join(self.warehouse_dir, "_external_tables.json")
        if os.path.exists(reg):
            import json

            with open(reg) as fh:
                for name, (fmt, loc) in json.load(fh).items():
                    if name in self._tables:
                        continue
                    if fmt == "lakehouse":
                        # engine-native attach: reload for full DML; an
                        # unreadable location is QUARANTINED, not
                        # dropped — _persist_external keeps serializing
                        # it, so the registration genuinely stays on
                        # disk for diagnosis and self-heals on the next
                        # restart once the location is readable again
                        try:
                            self._tables[name] = LakehouseTable.load(
                                self.spark, loc
                            )
                            self._attached[name] = loc
                        except Exception:
                            self._quarantined[name] = loc
                            continue
                    else:
                        self._external[name] = (fmt, loc)

    def _persist_external(self) -> None:
        import json

        reg = os.path.join(self.warehouse_dir, "_external_tables.json")
        tmp = reg + ".tmp"
        entries = dict(self._external)
        entries.update(
            {n: ("lakehouse", loc) for n, loc in self._quarantined.items()}
        )
        entries.update(
            {n: ("lakehouse", loc) for n, loc in self._attached.items()}
        )
        with open(tmp, "w") as fh:
            json.dump(dict(sorted(entries.items())), fh, indent=1)
        os.replace(tmp, reg)

    def table(self, name: str) -> LakehouseTable:
        return self._tables[self._norm(name)]

    def tables(self) -> list[str]:
        return sorted(self._tables)

    def _managed(self, name: str) -> LakehouseTable:
        t = self._tables.get(name)
        if t is None:
            raise ValueError(f"table {name} does not exist")
        return t

    @staticmethod
    def _norm(name: str) -> str:
        # split on top-level dots BEFORE unquoting, so a dot inside a
        # backticked part (`my.table`) stays part of the name
        last = _split_top_level(name, sep=".")[-1].strip()
        return strip_ident_quotes(last).lower()

    def _frame(self, rows=(), schema: str = "result string") -> DataFrame:
        return self.spark.createDataFrame(list(rows), schema)

    def create_table(
        self,
        name: str,
        config: TableConfig | None = None,
        df: DataFrame | None = None,
        **cfg_kwargs,
    ) -> LakehouseTable:
        name = self._norm(name)
        if name in self._tables:
            raise ValueError(f"table {name} already exists")
        config = config or TableConfig(name=name, **cfg_kwargs)
        t = LakehouseTable.create(
            self.spark, os.path.join(self.warehouse_dir, name), config
        )
        self._tables[name] = t
        if df is not None:
            if config.record_key:
                t.bulk_insert(df)
            else:
                t.insert(df)
        return t

    def drop_table(self, name: str) -> None:
        import shutil

        name = self._norm(name)
        t = self._tables.pop(name)
        shutil.rmtree(t.base_path, ignore_errors=True)

    def register_views(self) -> None:
        """Expose every managed table to Spark SQL (snapshot view;
        MOR additionally gets `_ro` / `_rt` — reference S9 HMS-sync
        naming, README.md:341-344). External registrations are
        re-replayed from their format metadata (metadata-scale IO —
        log/manifest files only; the parquet scan stays lazy). Every
        statement that reads a view runs this first, so no statement
        handler registers views itself."""
        for name, t in self._tables.items():
            t.register_view(name)
        for name in self._external:
            # Replay the personality metadata only when it changed
            # since the last registration (token = cheap version probe)
            # — not on every passthrough statement.
            token = self._external_token(name)
            if (
                token is not None
                and self._external_view_tokens.get(name) == token
            ):
                continue
            # A registration whose files were externally removed must
            # not poison unrelated statements: skip the broken view —
            # AND drop any previously-created temp view, so queries
            # fail with a clear missing-view error instead of silently
            # serving a stale snapshot (SHOW TABLES still lists the
            # entry for diagnosis).
            try:
                df = self._external_df(name)
            except Exception:
                self._external_view_tokens.pop(name, None)
                try:
                    self.spark.catalog.dropTempView(name)
                except Exception:
                    pass
                continue
            self._show_external(name, token, df)

    def _show_external(self, name: str, token, df: DataFrame) -> None:
        """Serve external registration `name` from `df`, its replay
        taken at metadata `token`: the view (and a Hudi MOR table's
        `_ro`/`_rt` pair), and the token that spares the next
        statement a replay."""
        df.createOrReplaceTempView(name)
        self._register_hudi_mor_pair(name)
        if token is not None:
            self._external_view_tokens[name] = token

    def _register_hudi_mor_pair(self, name: str) -> None:
        """A registered MERGE_ON_READ Hudi personality gets the
        reference's hive-sync view pair (README.md:343-344):
        `<name>_ro` (base slices only) and `<name>_rt` (base + real
        HoodieLogFormat log blocks merged at read).
        The `_rt` merge needs the personality's engine columns
        (`_oh_key`/`_oh_commit`), so FOREIGN Hudi MOR tables — a real
        `.hoodie` attached by location, no `sync_state.json` — get
        `_ro` only instead of a view that raises once log records
        decode."""
        fmt, loc = self._external[name]
        if fmt != "hudi":
            return
        props = os.path.join(loc, ".hoodie", "hoodie.properties")
        try:
            with open(props) as fh:
                if "hoodie.table.type=MERGE_ON_READ" not in fh.read():
                    return
        except OSError:
            return
        from onehouse_demos_spark.tables.hudi_export import (
            read_hudi_rt,
            read_hudi_snapshot,
        )

        read_hudi_snapshot(self.spark, loc).createOrReplaceTempView(
            f"{name}_ro"
        )
        if not os.path.exists(
            os.path.join(loc, ".hoodie", "sync_state.json")
        ):
            return  # foreign MOR table: _ro only
        read_hudi_rt(self.spark, loc).createOrReplaceTempView(
            f"{name}_rt"
        )

    def _external_token(self, name: str):
        """Cheap metadata-version probe for an external registration:
        changes iff the personality's snapshot could have changed.
        None = unprobeable (forces full revalidation)."""
        fmt, loc = self._external[name]
        try:
            if fmt == "delta":
                d = os.path.join(loc, "_delta_log")
                names = sorted(os.listdir(d))
                return (fmt, tuple(names))
            if fmt == "iceberg":
                from onehouse_demos_spark.tables.iceberg_export import (
                    iceberg_version,
                )

                # the head a reader resolves, not the raw hint: a hint
                # left behind by a crashed sync must not pin the view
                return (fmt, iceberg_version(loc))
            if fmt == "hudi":
                d = os.path.join(loc, ".hoodie")
                names = sorted(os.listdir(d))
                # A COW->MOR mode upgrade rewrites hoodie.properties
                # IN PLACE (same name set) — fold its mtime in so the
                # `_ro`/`_rt` pair re-registers on the flip.
                try:
                    pm = os.stat(
                        os.path.join(d, "hoodie.properties")
                    ).st_mtime_ns
                except OSError:
                    pm = 0
                return (fmt, pm, tuple(names))
            # Generic formats (parquet/csv dirs) have no metadata log
            # to version-probe: a file rewritten IN PLACE changes
            # neither the directory mtime nor its entry list, so any
            # cheap token would serve stale snapshots. None = always
            # re-register the view (the parquet scan itself stays lazy).
            return None
        except OSError:
            return None

    # ----------------------------------------------------------------- sql

    def sql(self, statement: str) -> DataFrame:
        s = strip_comments(statement).strip().rstrip(";")
        m = match_masked(_CALL_RE, s)
        if m:
            proc = strip_ident_quotes(m.group("proc")).split(".")[-1].lower()
            return self._call(proc, _parse_pairs(m.group("args")))
        for pattern, handler in self._STATEMENTS:
            m = match_masked(pattern, s)
            if m is None:
                continue
            name = self._norm(m.group("name"))
            if name in self._tables or handler in self._ENGINE_ONLY:
                return handler(self, self._managed(name), m)
        m = match_masked(_CREATE_RE, s)
        if m and m.group("location"):
            return self._create_at_location(m)
        if m and (m.group("format") or "").lower() in ("lakehouse", "oh", ""):
            if m.group("format") or m.group("props") or m.group("ctas"):
                return self._create(m)
        m = match_masked(_DROP_RE, s)
        if m:
            return self._drop(m)
        if _SHOW_TABLES_RE.match(s):
            return self._show_tables()
        # Time travel: `FROM <t> VERSION AS OF '<instant>'` registers a
        # pinned snapshot view and rewrites the reference (reference
        # analog: incremental/as-of reads via `_hoodie_commit_time`,
        # README.md:966-984).
        def _pin_version(m) -> str:
            name = self._norm(m.group("name"))
            if name not in self._tables:
                return m.group(0)
            instant = m.group("instant")
            view = f"{name}__asof_{re.sub(r'[^0-9A-Za-z]', '_', instant)}"
            self._tables[name].snapshot(as_of=instant).createOrReplaceTempView(view)
            return view

        s = sub_masked(_VERSION_AS_OF_RE, _pin_version, s)

        # `FROM <t> TIMESTAMP AS OF '<wall time>'` (Delta/Hudi time
        # travel by timestamp): resolve to the latest commit at or
        # before the given UTC wall time (instant ids are
        # ms-epoch-derived, so the bound is a direct encode), then pin
        # exactly like VERSION AS OF.
        def _pin_timestamp(m) -> str:
            name = self._norm(m.group("name"))
            if name not in self._tables:
                return m.group(0)
            from datetime import datetime, timezone

            ts = m.group("ts")
            dt = datetime.fromisoformat(ts)
            if dt.tzinfo is None:
                # Delta semantics: a naive timestamp is interpreted in
                # the SESSION timezone (spark.sql.session.timeZone),
                # not blindly as UTC.
                tz_name = ""
                try:
                    tz_name = self.spark.conf.get(
                        "spark.sql.session.timeZone"
                    )
                    off = re.fullmatch(
                        r"(?:GMT|UTC)?([+-])(\d{1,2}):(\d{2})", tz_name
                    )
                    if off:
                        from datetime import timedelta

                        sign = 1 if off.group(1) == "+" else -1
                        dt = dt.replace(
                            tzinfo=timezone(sign * timedelta(
                                hours=int(off.group(2)),
                                minutes=int(off.group(3)),
                            ))
                        )
                    else:
                        from zoneinfo import ZoneInfo

                        dt = dt.replace(tzinfo=ZoneInfo(tz_name))
                except Exception:
                    print(
                        f"# TIMESTAMP AS OF: session timeZone {tz_name!r} "
                        "unresolvable, interpreting naive timestamp as UTC",
                        file=__import__("sys").stderr,
                    )
                    dt = dt.replace(tzinfo=timezone.utc)
            bound = f"{int(dt.timestamp() * 1000):017d}999"
            t = self._tables[name]
            eligible = [
                i.instant for i in t.timeline.instants() if i.instant <= bound
            ]
            if not eligible:
                raise ValueError(
                    f"no commit at or before {ts!r} for table {name}"
                )
            instant = max(eligible)
            view = f"{name}__asofts_{re.sub(r'[^0-9A-Za-z]', '_', instant)}"
            t.snapshot(as_of=instant).createOrReplaceTempView(view)
            return view

        s = sub_masked(_TIMESTAMP_AS_OF_RE, _pin_timestamp, s)
        # passthrough: refresh views so Spark sees latest snapshots
        self.register_views()
        return self.spark.sql(s)

    # -- catalog introspection (reference Q11: `show tables`,
    # `show partitions <t>` — README.md:362,372) ------------------------------

    def _show_tables(self) -> DataFrame:
        rows = [
            (n, t.config.table_type, t.base_path)
            for n, t in sorted(self._tables.items())
        ] + [
            (n, f"external-{fmt}", loc)
            for n, (fmt, loc) in sorted(self._external.items())
        ]
        return self._frame(
            rows, "tableName string, tableType string, location string"
        )

    def _show_partitions(self, t: LakehouseTable, m) -> DataFrame:
        return self._frame(
            [(p,) for p in t.manifest.partitions()], "partition string"
        )

    def _describe(self, t: LakehouseTable, m) -> DataFrame:
        rows = sorted((k, str(v)) for k, v in t.describe().items())
        return self._frame(rows, "col_name string, value string")

    def _changes(self, t: LakehouseTable, m) -> DataFrame:
        """Table-valued CHANGES(t, 'begin' [, 'end']): the CDC read view
        (insert/update/delete classification). An empty begin string is
        a bootstrap read: everything is an insert."""
        return t.changes(begin=m.group("begin") or None, end=m.group("end"))

    # -- CALL procedures (the maintenance procedures mirror Hudi's
    # spark-sql CALL surface, README.md:1126-1160). Every statement form
    # of a procedure (COMPACT TABLE, CLUSTER TABLE, SAVEPOINT TABLE,
    # RESTORE TABLE, VACUUM, SHOW INDEXES, DESCRIBE HISTORY) runs the
    # procedure's handler ------------------------------------------------

    def _call(self, proc: str, pairs: dict[str, str]) -> DataFrame:
        entry = _PROCEDURES.get(proc)
        if entry is None:
            raise ValueError(
                f"unknown procedure {proc!r}; supported: "
                + ", ".join(sorted(_PROCEDURES))
            )
        name = self._norm(_Args(proc, pairs).req("table", "0"))
        if not entry[1]:
            return self._run(proc, self._managed(name), pairs)
        if name in self._tables or name in self._external:
            raise ValueError(f"table {name} already exists")
        return self._run(proc, name, pairs)

    def _run(self, proc: str, t, pairs: dict[str, str | None]) -> DataFrame:
        return self._frame(*_PROCEDURES[proc][0](self, t, _Args(proc, pairs)))

    @_procedure("register_table", creates=True)
    def _register_table(self, name: str, a: _Args):
        """Iceberg-style registration: point the catalog at an existing
        metadata.json (reference demo.md:225 `CALL hive_prod.system.
        register_table(table => ..., metadata_file => ...)`)."""
        metadata_file = a.req("metadata_file", "1")
        if not os.path.exists(metadata_file):
            raise FileNotFoundError(metadata_file)
        base = os.path.dirname(os.path.dirname(os.path.abspath(metadata_file)))
        self._register_external(name, "iceberg", base)
        return (
            [(name, "iceberg", base)],
            "tableName string, format string, location string",
        )

    @_procedure("bootstrap_table", creates=True)
    def _bootstrap_table(self, name: str, a: _Args):
        """Metadata-only onboarding of an existing parquet dataset into
        a NEW managed table (Hudi bootstrap analog): CALL
        bootstrap_table(table => 't', location => '/data', primary_key
        => 'id'[, precombine => 'ver'][, partition_by => 'dt,region']);
        a hive-layout source decodes its col=val dirs into partitions."""
        t = LakehouseTable.create(
            self.spark,
            f"{self.warehouse_dir}/{name}",
            TableConfig(
                name=name,
                record_key=_items(a.req("primary_key", _PRIMARY_KEY.key)),
                precombine=a.opt("precombine") or None,
                partition_by=_items(a.opt("partition_by", default="")),
            ),
        )
        inst = t.bootstrap(a.req("location", "1"))
        self._tables[name] = t
        return (
            [(name, inst.instant, len(inst.adds))],
            "table string, instant string, files int",
        )

    @_procedure("show_commits", "show_commits_metadata")
    def _show_commits(self, t: LakehouseTable, a: _Args):
        rows = [
            (
                i.instant,
                i.action,
                i.operation,
                len(i.adds),
                len(i.removes),
                sum(f.rows for f in i.adds),
            )
            for i in t.timeline.instants()
        ]
        limit = a.integer("limit")
        return (
            rows if limit is None else rows[-limit:],
            "instant string, action string, operation string, "
            "n_adds int, n_removes int, rows_written long",
        )

    @_procedure("show_compactions", "show_clustering")
    def _show_pending(self, t: LakehouseTable, a: _Args):
        """REQUESTED persisted plans and COMPLETED commits of compaction
        or clustering (`compactions show all`, README.md:1128-1132)."""
        return (
            [
                (r["instant"], r["state"], r["n_files"])
                for r in getattr(maintenance, a.proc)(t)
            ],
            "instant string, state string, n_files int",
        )

    @_procedure("run_compaction")
    def _run_compaction(self, t: LakehouseTable, a: _Args):
        op = a.opt("op", default="scheduleandexecute").lower()
        if op == "schedule":
            # persist a REQUESTED plan (the Hudi CLI `compaction
            # schedule` step); run it later by timestamp
            instant = maintenance.request_compaction(t)
            n = (
                len(maintenance.load_compaction_plan(t, instant).log_files)
                if instant is not None
                else 0
            )
            return (
                [(op, instant, n, False)],
                "op string, instant string, n_log_files int, "
                "executed boolean",
            )
        ts = a.opt("timestamp", "instant")
        if op in ("run", "execute") and ts is not None:
            # `compaction run --compactionInstant <ts>`
            maintenance.run_compaction(t, instant=ts)
            return [(op, ts, True)], "op string, instant string, executed boolean"
        plan = maintenance.schedule_compaction(t)
        executed = op in ("run", "execute", "scheduleandexecute") and not plan.empty
        if executed:
            maintenance.run_compaction(t, plan)
        return (
            [(op, len(plan.log_files), len(plan.partitions), executed)],
            "op string, n_log_files int, n_partitions int, executed boolean",
        )

    @_procedure("run_clustering")
    def _run_clustering(self, t: LakehouseTable, a: _Args):
        op = a.opt("op", default="scheduleandexecute").lower()
        ts = a.opt("timestamp", "instant")
        if op in ("run", "execute") and ts is not None:
            # execute a persisted REQUESTED clustering plan
            maintenance.run_clustering(t, instant=ts)
            return [(op, ts, True)], "op string, instant string, executed boolean"
        cols = [strip_ident_quotes(c) for c in _items(a.req("order", "order_by"))]
        strategy = (a.opt("strategy") or "linear").lower()
        if op == "schedule":
            instant = maintenance.request_clustering(t, cols, strategy=strategy)
            return (
                [(op, instant, ",".join(cols), False)],
                "op string, instant string, order_columns string, "
                "executed boolean",
            )
        maintenance.run_clustering(t, cols, strategy=strategy)
        return [(",".join(cols), strategy)], "order_columns string, strategy string"

    @_procedure("run_clean")
    def _run_clean(self, t: LakehouseTable, a: _Args):
        keep = a.integer("retain_commits", "keep_last_commits", default=10)
        removed = maintenance.run_clean(t, keep_last_commits=keep)
        return [(p,) for p in removed], "removed_file string"

    @_procedure("run_partition_ttl")
    def _run_partition_ttl(self, t: LakehouseTable, a: _Args):
        days = a.opt("retain_days")
        expired = maintenance.run_partition_ttl(
            t,
            retain_days=float(days) if days else None,
            retain_commits=a.integer("retain_commits"),
        )
        return [(p,) for p in expired], "expired_partition string"

    @_procedure("show_indexes")
    def _show_indexes(self, t: LakehouseTable, a: _Args):
        """Hudi 1.0 `SHOW INDEXES` analog: one row per index with its
        layout state (delta dirs pending fold, base presence)."""
        idxs = [("record_index", "record_key", t.record_index)]
        idxs = idxs if t.record_index is not None else []
        idxs += [
            (f"secondary_{col}", col, ix)
            for col, ix in sorted(t.secondary_indexes.items())
        ]
        idxs += [
            ("expression", expr, ix)
            for expr, ix in sorted(t.expression_indexes.items())
        ]
        rows = []
        for name, on, ix in idxs:
            deltas, bases = ix._dirs()
            rows.append((name, on, ix.buckets, len(deltas), len(bases)))
        return (
            rows,
            "index_name string, on string, buckets int, "
            "delta_dirs int, base_dirs int",
        )

    @_procedure("compact_record_index")
    def _compact_record_index(self, t: LakehouseTable, a: _Args):
        """Fold the record-level index's per-commit delta dirs into one
        base (Hudi metadata-table compaction analog); drops entries for
        dead files while folding."""
        if t.record_index is None:
            raise ValueError(
                f"table {t.config.name} has no record-level index "
                "(create with record_index=True)"
            )
        folded = t.record_index.compact(
            self.spark,
            {f.path for f in t.manifest.live_files(include_logs=False)},
        )
        return [(folded,)], "folded_index_dirs int"

    @_procedure("archive_commits")
    def _archive_commits(self, t: LakehouseTable, a: _Args):
        keep = a.integer("keep_last", default=50)
        archived = maintenance.run_archival(t, keep_last=keep)
        return [(archived,)], "archived_instants int"

    @_procedure("create_savepoint")
    def _create_savepoint(self, t: LakehouseTable, a: _Args):
        target = maintenance.create_savepoint(t, a.opt("commit_time", "instant"))
        return [(target,)], "savepointed_instant string"

    @_procedure("show_savepoints")
    def _show_savepoints(self, t: LakehouseTable, a: _Args):
        return (
            maintenance.list_savepoints(t),
            "savepoint_instant string, saved_instant string",
        )

    @_procedure("delete_savepoint")
    def _delete_savepoint(self, t: LakehouseTable, a: _Args):
        removed = maintenance.delete_savepoint(t, a.req("commit_time", "instant"))
        return [(removed,)], "deleted_savepoint string"

    @_procedure("rollback_to_savepoint", "rollback_to_instant")
    def _rollback(self, t: LakehouseTable, a: _Args):
        res = maintenance.run_restore(
            t, a.req("commit_time", "instant", "instant_time")
        )
        return (
            [
                (
                    res["restored_to"],
                    len(res["removed_instants"]),
                    len(res["deleted_files"]),
                )
            ],
            "restored_to string, removed_instants int, deleted_files int",
        )

    @_procedure("split_bucket")
    def _split_bucket(self, t: LakehouseTable, a: _Args):
        """Consistent-engine hot-bucket split: an O(one bucket) rewrite."""
        done = maintenance.split_bucket(t, a.integer("bucket"))
        return (
            [(done.instant if done is not None else "", len(t._bucket_prefix_list()))],
            "instant string, buckets int",
        )

    @_procedure("auto_split")
    def _auto_split(self, t: LakehouseTable, a: _Args):
        """The service form of split_bucket: split every over-target
        bucket, hottest first, until the layout is healthy (the policy
        `run_auto_split` applies during inline ingest services)."""
        done = maintenance.run_auto_split(t, a.integer("max_bucket_rows"))
        return [(len(done), len(t._bucket_prefix_list()))], "splits int, buckets int"

    @_procedure("auto_resize")
    def _auto_resize(self, t: LakehouseTable, a: _Args):
        """The modulo engine's layout-health service, the auto_split
        counterpart for tables that grow by re-bucketing: a
        manifest-arithmetic trigger, one atomic replacecommit when over
        target."""
        before = t.config.bucket_index_buckets or 0
        done = maintenance.run_auto_resize(t, a.integer("max_bucket_rows"))
        return (
            [(len(done), before, t.config.bucket_index_buckets or 0)],
            "resizes int, buckets_before int, buckets_after int",
        )

    @_procedure("resize_buckets")
    def _resize_buckets(self, t: LakehouseTable, a: _Args):
        """Re-bucket a bucket-layout table (Hudi consistent-hashing
        resize analog): one atomic replacecommit rewrite."""
        done = maintenance.resize_buckets(t, int(a.req("buckets", "1")))
        return (
            [(done.instant if done is not None else "", t.config.bucket_index_buckets)],
            "instant string, buckets int",
        )

    @_procedure("show_bucket_layout")
    def _show_bucket_layout(self, t: LakehouseTable, a: _Args):
        """One row per bucket — encoded id, prefix (consistent engine),
        live files and rows — straight from the manifest, no data IO."""
        if not t.config.bucket_index_buckets:
            raise ValueError(f"{t.config.name} has no bucket-index layout")
        by_bucket: dict[int, list] = {}
        for fm in t.manifest.live_files(include_logs=True):
            if fm.bucket is not None:
                by_bucket.setdefault(fm.bucket, []).append(fm)
        consistent = t.config.bucket_engine == "consistent"
        ids = (
            t._bucket_prefix_list()
            if consistent
            else list(range(t.config.bucket_index_buckets))
        )
        rows = []
        for b in sorted(set(ids) | set(by_bucket)):
            files = by_bucket.get(b, [])
            if consistent:
                length, prefix = b >> 16, b & 0xFFFF
                label = format(prefix, f"0{length}b") if length else "*"
            else:
                label = str(b)
            rows.append(
                (b, label, len(files), sum(f.rows for f in files), b in set(ids))
            )
        return (
            rows,
            "bucket int, prefix string, files int, rows bigint, routed boolean",
        )

    @_procedure("hudi_index")
    def _hudi_index(self, t: LakehouseTable, a: _Args):
        """Hudi's async-indexer face (`HoodieIndexer` /
        `hoodie.metadata.index.*.enable`): build the named metadata-index
        partitions over the CURRENT personality state without waiting
        for a data commit. A partition is declared after its first
        build, so later plain syncs keep maintaining it."""
        from onehouse_demos_spark.tables.hudi_export import sync_hudi_metadata

        wanted = [
            p.lower()
            for p in _items(
                a.opt("partitions", default="column_stats,bloom_filters,record_index")
            )
        ]
        valid = {"column_stats", "bloom_filters", "record_index"}
        bad = sorted(set(wanted) - valid)
        if bad:
            raise ValueError(
                f"hudi_index: unknown partitions {bad}; one of: {sorted(valid)}"
            )
        version = sync_hudi_metadata(
            t,
            column_stats="column_stats" in wanted,
            bloom_filters="bloom_filters" in wanted,
            record_index="record_index" in wanted,
        )
        return [(p, version) for p in sorted(wanted)], "partition string, version int"

    @_procedure("hudi_clean")
    def _hudi_clean(self, t: LakehouseTable, a: _Args):
        """The personality's clean/archive service: age retired
        Hudi-named slices past the keep-last-instants horizon and
        archive their timeline instants, with Hudi's own clean
        retention semantics."""
        from onehouse_demos_spark.tables.hudi_export import clean_hudi_personality

        keep = a.integer("keep_last_instants", default=10)
        res = clean_hudi_personality(t, keep_last_instants=keep)
        return (
            [(len(res["deleted_files"]), len(res["archived_instants"]))],
            "deleted_slices int, archived_instants int",
        )

    @_procedure("xtable_sync")
    def _xtable_sync(self, t: LakehouseTable, a: _Args):
        """One-command multi-format conversion — the reference runs
        `java -jar xtable-utilities --datasetConfig xtable_hudi.yaml`
        with targets DELTA,ICEBERG (demo.md:81-88,
        xtable/xtable_hudi.yaml); here each target personality is
        (re)synced in place over the same files."""
        from onehouse_demos_spark.tables.delta_export import sync_delta_log
        from onehouse_demos_spark.tables.hudi_export import sync_hudi_metadata
        from onehouse_demos_spark.tables.iceberg_export import (
            sync_iceberg_metadata,
        )

        rows = []
        for fmt in _items(a.opt("formats", default="delta,iceberg").lower()):
            if fmt == "delta":
                rows.append(("delta", sync_delta_log(t)))
            elif fmt == "iceberg":
                rows.append(("iceberg", sync_iceberg_metadata(t)))
            elif fmt == "hudi":
                # MOR freshness (README.md:756-776), two modes:
                # 'compact' (default) folds logs through the engine's
                # compaction; 'rt' publishes them as real
                # HoodieLogFormat blocks under deltacommits — no
                # rewrite, a genuine `_rt` personality. The
                # hudi_column_stats / hudi_bloom_filters /
                # hudi_record_index flags publish those metadata
                # partitions alongside files.
                hudi_mode = (a.opt("hudi_mode") or "compact").lower()
                if hudi_mode not in ("compact", "rt"):
                    raise ValueError(
                        f"xtable_sync: hudi_mode {hudi_mode!r}; one of: compact, rt"
                    )
                version = sync_hudi_metadata(
                    t,
                    compact_mor=hudi_mode == "compact",
                    mor_rt=hudi_mode == "rt",
                    column_stats=a.flag("hudi_column_stats"),
                    bloom_filters=a.flag("hudi_bloom_filters"),
                    record_index=a.flag("hudi_record_index"),
                )
                rows.append(("hudi", version))
            else:
                raise ValueError(f"xtable_sync: unsupported target format {fmt!r}")
        return rows, "format string, version int"

    @_procedure("show_fsview_all")
    def _show_fsview_all(self, t: LakehouseTable, a: _Args):
        """Hudi's `show_fsview_all`: one row per live file slice with
        partition, kind (base/log) and row count, from the manifest."""
        return (
            [
                (f.partition or "", f.path, f.kind, f.rows)
                for f in t.manifest.live_files()
            ],
            "partition string, path string, kind string, rows bigint",
        )

    @_procedure("show_table_properties")
    def _show_table_properties(self, t: LakehouseTable, a: _Args):
        cfg = t.config
        rows = [
            ("name", cfg.name),
            ("partitionFields", ",".join(cfg.partition_by or [])),
        ]
        rows += [(p.sql, p.render(p.get(cfg))) for p in _PROPS]
        return rows + [("location", t.base_path)], "key string, value string"

    # -- register-by-location (reference S10 external registration:
    # demo.md:208 `CREATE TABLE delta_db.people USING DELTA LOCATION
    # ...`, demo.md:225 `CALL hive_prod.system.register_table(...)`) ----

    def _register_external(self, name: str, fmt: str, loc: str) -> None:
        """Register a personality the engine does not own. The metadata
        walk is validated before the registration persists, and its
        frame serves the view, so the next statement does not replay
        it again."""
        self._external[name] = (fmt, loc)
        token = self._external_token(name)
        try:
            df = self._external_df(name)
        except Exception:
            del self._external[name]
            raise
        self._persist_external()
        self._show_external(name, token, df)

    def _attach(self, name: str, t: LakehouseTable) -> None:
        """Register an engine table at a location the engine does not
        own: full DML, persisted like the external registrations, and
        a quarantined attach of the same name is healed."""
        self._tables[name] = t
        self._attached[name] = t.base_path
        self._quarantined.pop(name, None)
        self._persist_external()

    def _external_df(self, name: str) -> DataFrame:
        """Materialize an external registration's current snapshot.

        Scale note: the temp view enumerates the personality's full
        live-file list; partition predicates in SQL over it prune via
        parquet footer stats, not at plan time. Plan-time
        partitionValues pruning belongs to the format-native reader
        (`read_delta_snapshot(partition_predicate=...)` /
        `delta_pruned_files`) and to real external engines — a 100 TB
        deployment attaches the engine-native table instead."""
        fmt, loc = self._external[name]
        if fmt == "iceberg":
            from onehouse_demos_spark.tables.iceberg_export import (
                read_iceberg_snapshot,
            )

            return read_iceberg_snapshot(self.spark, loc)
        if fmt == "delta":
            from onehouse_demos_spark.tables.delta_export import (
                read_delta_snapshot,
            )

            return read_delta_snapshot(self.spark, loc)
        if fmt == "hudi":
            from onehouse_demos_spark.tables.hudi_export import (
                read_hudi_snapshot,
            )

            return read_hudi_snapshot(self.spark, loc)
        return self.spark.read.parquet(loc)

    def _create_at_location(self, m) -> DataFrame:
        """CREATE TABLE name USING <fmt> LOCATION 'path' — attach an
        existing table (reference demo.md:208 Delta register; lakehouse
        format re-attaches an engine table written elsewhere). For the
        lakehouse format, a location with NO table yet plus a column
        list / TBLPROPERTIES creates a managed table AT that path —
        the shape SHOW CREATE TABLE emits, so its output is
        re-runnable in a fresh warehouse; replayed over the live
        location it attaches the table, refusing a different primary
        key. For external formats, data-definition clauses are
        rejected: the table already exists on disk."""
        name = self._norm(m.group("name"))
        fmt = (m.group("format") or "parquet").lower()
        loc = m.group("location").rstrip("/")
        if name in self._tables or name in self._external:
            raise ValueError(f"table {name} already exists")
        defines = bool(m.group("cols") or m.group("props"))
        # USING hudi over a `.hoodie` timeline (a genuine Hudi table such
        # as the reference's hudi_dimCustomer fixture, or an engine
        # table's Hudi personality) registers that timeline as an
        # external replayed personality, like delta/iceberg
        hudi_timeline = fmt == "hudi" and os.path.isdir(
            os.path.join(loc, ".hoodie")
        )
        if hudi_timeline and defines and not m.group("ctas"):
            # creating a managed table would write engine metadata
            # inside the Hudi table directory
            raise ValueError(
                f"location {loc} already holds a Hudi table (.hoodie "
                "present); drop the column list / TBLPROPERTIES to "
                f"register it: CREATE TABLE {name} USING hudi "
                f"LOCATION '{loc}'"
            )
        engine_fmt = fmt in ("lakehouse", "oh", "hudi") and not hudi_timeline
        if engine_fmt and defines and not m.group("ctas"):
            cfg = _declared_config(name, m)
            if _is_table(loc):
                t = LakehouseTable.load(self.spark, loc)
                if cfg.record_key and cfg.record_key != t.config.record_key:
                    raise ValueError(
                        f"primaryKey {cfg.record_key} does not match the "
                        f"table at {loc} ({t.config.record_key})"
                    )
            else:
                t = LakehouseTable.create(self.spark, loc, cfg)
                self._record_schema(t, m)
        elif defines or m.group("ctas"):
            raise ValueError(
                "CREATE TABLE ... LOCATION registers an existing table; "
                "column lists, TBLPROPERTIES and CTAS are not supported"
            )
        elif engine_fmt:
            t = LakehouseTable.load(self.spark, loc)
        elif hudi_timeline or fmt in ("delta", "iceberg", "parquet"):
            self._register_external(name, fmt, loc)
            return self._frame(
                [(name, f"external-{fmt}", loc)],
                "tableName string, format string, location string",
            )
        else:
            raise ValueError(f"unsupported LOCATION format {fmt!r}")
        self._attach(name, t)
        return self._frame(
            [(name, t.config.table_type, loc)],
            "tableName string, format string, location string",
        )

    def _drop(self, m) -> DataFrame:
        """DROP TABLE: a table the engine created is deleted with its
        files; a table registered or attached by location (quarantined
        included) is only unregistered."""
        name = self._norm(m.group("name"))
        registered = (
            name in self._external
            or name in self._attached
            or name in self._quarantined
        )
        if registered:
            for entries in (
                self._external,
                self._external_view_tokens,
                self._attached,
                self._quarantined,
                self._tables,
            ):
                entries.pop(name, None)
            self._persist_external()
        elif name in self._tables:
            self.drop_table(name)
        elif m.group("if_exists"):
            return self._frame()
        else:
            raise ValueError(f"table {name} does not exist")
        for view in (name, f"{name}_ro", f"{name}_rt"):
            self.spark.catalog.dropTempView(view)
        return self._frame()

    # -- statement handlers ---------------------------------------------------

    def _create(self, m: re.Match) -> DataFrame:
        name = self._norm(m.group("name"))
        cfg = _declared_config(name, m)
        if m.group("ctas"):
            self.register_views()
            self.create_table(name, cfg, df=self.spark.sql(m.group("ctas")))
            return self._frame()
        self._record_schema(self.create_table(name, cfg), m)
        return self._frame()

    def _record_schema(self, t: LakehouseTable, m: re.Match) -> None:
        """Record a CREATE TABLE column list, parsed by Spark SQL's own
        DDL parser, through a zero-row insert so readers know it."""
        if m.group("cols"):
            t.insert(
                self.spark.createDataFrame(
                    [], T.StructType.fromDDL(m.group("cols"))
                )
            )

    def _insert(self, t: LakehouseTable, m: re.Match) -> DataFrame:
        """INSERT INTO | OVERWRITE t [(cols)] VALUES ... | SELECT ... |
        TABLE ...: the query's columns bind BY POSITION to the listed
        columns, or to the table's data columns when none are listed
        (Spark, Delta and Hudi SQL semantics); unlisted columns are
        NULL."""
        self.register_views()
        body = m.group("body")
        if body.upper().startswith("VALUES"):
            body = f"SELECT * FROM ( {body} )"
        cols = m.group("cols")
        target = (
            [strip_ident_quotes(c.strip()) for c in _split_top_level(cols)]
            if cols
            else [f.name for f in self._data_schema(t)]
        )
        df = self._align(t, self.spark.sql(body).toDF(*target))
        if m.group("mode").upper() == "OVERWRITE":
            t.insert_overwrite(df)
        else:
            t.insert(df)
        return self._frame()

    def _data_schema(self, t: LakehouseTable):
        schema = t._latest_schema()
        if schema is None:
            raise ValueError(f"table {t.config.name} has no schema yet")
        return [f for f in schema.fields if f.name not in META_COLS + (PP_COL,)]

    def _align(self, t: LakehouseTable, df: DataFrame) -> DataFrame:
        """Cast/reorder an incoming frame to the table's data schema
        (missing columns → null)."""
        fields = self._data_schema(t)
        if not fields:
            return df
        out = []
        for f in fields:
            if f.name in df.columns:
                out.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                out.append(F.lit(None).cast(f.dataType).alias(f.name))
        return df.select(*out)

    def _keyed_read(
        self, t: LakehouseTable, stmt: str, keys_df: DataFrame | None
    ) -> DataFrame | None:
        """The keyed point read UPDATE, DELETE and MERGE share: start
        ``self.last_dml_probe`` for the statement and, given the frame
        of keys it can touch, read only the files that hold them
        (record index, bucket or key-range pruning, the DataFrame
        upsert's own key→file lookup). None when there are no keys:
        the caller reads more."""
        self.last_dml_probe = {"stmt": stmt, "table": t.config.name, "mode": "full"}
        if keys_df is None:
            return None
        df = t.snapshot_for_keys(keys_df)
        probe = getattr(t, "last_key_read_probe", None) or {}
        self.last_dml_probe.update(probe)
        self.last_dml_probe["mode"] = "keys-" + probe.get("mode", "?")
        return df

    def _where_keys(
        self, t: LakehouseTable, filters: list[tuple[str, str, object]]
    ) -> DataFrame | None:
        """The keys a WHERE pins: when its conjuncts fix the FULL record
        key by equality (or a single key by IN), a frame of those keys
        (plus any partition columns fixed by equality), else None."""
        rk = t.config.record_key
        eq: dict[str, list] = {}
        for col, op, val in filters:
            if op == "=":
                eq.setdefault(col, []).append(val)
            elif op == "in" and len(rk) == 1 and col == rk[0]:
                eq.setdefault(col, []).extend(val)
        covered = rk and all(k in eq for k in rk)
        single_valued = all(len(eq[k]) == 1 for k in rk[1:] if k in eq)
        if not (covered and (len(rk) == 1 or single_valued)):
            return None
        part_eq = {
            c: v[0]
            for c, v in eq.items()
            if c in (t.config.partition_by or []) and len(v) == 1
        }
        cols = list(rk) + [c for c in part_eq if c not in rk]
        if len(rk) == 1:
            rows = [
                tuple([v] + [part_eq[c] for c in cols[1:]])
                for v in dict.fromkeys(eq[rk[0]])
            ]
        else:
            rows = [
                tuple(
                    [eq[k][0] for k in rk]
                    + [part_eq[c] for c in cols[len(rk):]]
                )
            ]
        # Same hazard class _merge_source_keys gates against: the
        # probe hashes/range-prunes on the key column's PERSISTED
        # type, so a coercing literal (5.0 on a BIGINT key, numeric on
        # a STRING key) would probe a value the index never stored and
        # silently skip rows the full-snapshot path would mutate.
        # Coerce each literal to its column's exact type where provably
        # lossless; any other mismatch disables the point probe
        # (degrade, never corrupt).
        tgt_types = {f.name: f.dataType for f in self._data_schema(t)}
        fields, coerced_rows = [], [list(r) for r in rows]
        for ci, c in enumerate(cols):
            dt = tgt_types.get(c)
            if dt is None:
                return None
            fields.append(T.StructField(c, dt, True))
            for r in coerced_rows:
                got = _losslessly_typed(r[ci], dt)
                if got is _NO_COERCE:
                    return None
                r[ci] = got
        try:
            return self.spark.createDataFrame(
                [tuple(r) for r in coerced_rows], T.StructType(fields)
            )
        except Exception:
            return None

    def _pruned_dml_read(
        self, t: LakehouseTable, where: str | None, stmt: str
    ) -> DataFrame:
        """Index/stats-routed snapshot for UPDATE/DELETE (reference
        M4/M5 point-mutation shape): WHERE conjuncts that pin the FULL
        record key by equality become a keyed point read, so a point
        statement opens only the files that hold the keys instead of
        scanning the table. Other prunable conjuncts route through
        snapshot_filtered (secondary/expression index + min/max stats
        skipping). The caller re-applies the full WHERE row-level in
        every case; an unextractable WHERE degrades to the full
        snapshot — never corrupts. Diagnostics land in
        ``self.last_dml_probe``."""
        filters = _prunable_filters(where) if where else []
        df = self._keyed_read(
            t, stmt, self._where_keys(t, filters) if filters else None
        )
        if df is not None:
            return df
        if not filters:
            return t.snapshot()
        self.last_dml_probe["mode"] = "filtered"
        return t.snapshot_filtered(filters)

    def _update(self, t: LakehouseTable, m: re.Match) -> DataFrame:
        sets = m.group("sets")
        where = m.group("where")
        if where:
            validate_expression(where, "UPDATE WHERE condition")
        snap = self._pruned_dml_read(t, where, "update")
        changed = snap.filter(F.expr(where)) if where else snap
        assignments: dict[str, str] = {}
        for part in _split_top_level(sets):
            split = split_once_top_level(part, "=")
            if split is None:
                raise ValueError(f"bad SET assignment: {part!r}")
            k, v = split
            assignments[strip_ident_quotes(k.strip())] = validate_expression(
                v.strip(), f"UPDATE SET {k.strip()}"
            )
        # ANSI UPDATE semantics: each assignment casts to its column's
        # declared type (so `SET c = NULL` is a typed NULL, not void).
        types = {f.name: f.dataType for f in changed.schema.fields}
        exprs = [
            F.expr(assignments[c]).cast(types[c]).alias(c)
            if c in assignments
            else F.col(c)
            for c in changed.columns
        ]
        t.upsert(changed.select(*exprs))
        return self._frame()

    def _delete(self, t: LakehouseTable, m: re.Match) -> DataFrame:
        where = m.group("where")
        if where:
            validate_expression(where, "DELETE WHERE condition")
        snap = self._pruned_dml_read(t, where, "delete")
        doomed = snap.filter(F.expr(where)) if where else snap
        keep = t.config.record_key + [
            c for c in t.config.partition_by if c in snap.columns
        ]
        t.delete(doomed.select(*dict.fromkeys(keep)))
        return self._frame()

    def _truncate(self, t: LakehouseTable, m) -> DataFrame:
        """TRUNCATE TABLE (Hudi spark-sql surface): one replace commit
        removing every live file — time travel to pre-truncate instants
        still works until cleaned."""
        empty = self.spark.createDataFrame([], T.StructType(self._data_schema(t)))
        t.insert_overwrite_table(empty)
        return self._frame()

    def _create_index(self, t: LakehouseTable, m) -> DataFrame:
        """Hudi 1.0 index DDL analog: CREATE INDEX ON t (record_key |
        col | expr(...))."""
        target = strip_ident_quotes(m.group("target").strip())
        if target.lower() == "record_key":
            t.enable_record_index()
        elif target.isidentifier():
            t.create_secondary_index(target)
        else:
            t.create_expression_index(target)
        return self._frame([(target,)], "indexed string")

    def _drop_index(self, t: LakehouseTable, m) -> DataFrame:
        target = strip_ident_quotes(m.group("target").strip())
        t.drop_index("record_key" if target.lower() == "record_key" else target)
        return self._frame([(target,)], "dropped string")

    def _alter_add(self, t: LakehouseTable, m: re.Match) -> DataFrame:
        """ALTER TABLE t ADD COLUMNS (a INT, b STRING ...): a
        metadata-only schema-evolution commit on the managed table;
        old files read the new columns as NULL."""
        adds: list[tuple[str, str]] = []
        for part in _split_top_level(m.group("cols")):
            bits = part.strip().split(None, 1)
            if len(bits) != 2:
                raise ValueError(f"bad ADD COLUMNS entry: {part!r}")
            adds.append((strip_ident_quotes(bits[0]), bits[1].strip()))
        t.evolve_schema(adds)
        return self._frame([(c,) for c, _ in adds], "added_column string")

    def _alter_rename(self, t: LakehouseTable, m) -> DataFrame:
        old = strip_ident_quotes(m.group("old"))
        new = strip_ident_quotes(m.group("new"))
        t.rename_column(old, new)
        return self._frame(
            [(old, new)], "renamed_from string, renamed_to string"
        )

    def _alter_type(self, t: LakehouseTable, m) -> DataFrame:
        col = strip_ident_quotes(m.group("col"))
        t.widen_column(col, m.group("dtype"))
        return self._frame(
            [(col, m.group("dtype"))], "altered_column string, new_type string"
        )

    def _alter_drop(self, t: LakehouseTable, m) -> DataFrame:
        cols = [
            strip_ident_quotes(c.strip())
            for c in (m.group("cols") or m.group("col")).split(",")
        ]
        for c in cols:
            t.drop_column(c)
        return self._frame([(c,) for c in cols], "dropped_column string")

    def _alter_props(self, t: LakehouseTable, m: re.Match) -> DataFrame:
        """ALTER TABLE t SET TBLPROPERTIES (...): mutable properties
        only (see `_PROPS`). Identity-defining properties (primaryKey,
        type, partition fields, index layout, scope) are fixed at
        create; changing them would silently invalidate the on-disk
        layout, so they are rejected loudly instead. Every value parses
        before any applies, so a bad entry leaves no state behind."""
        props = _parse_pairs(m.group("props"))
        staged = []
        for k, v in props.items():
            p = _PROP_BY_KEY.get(k)
            if p is None or not p.mutable:
                raise ValueError(
                    f"table property {k!r} is immutable or unknown; "
                    "mutable: "
                    + ", ".join(q.sql for q in _PROPS if q.mutable)
                )
            staged.append((p, p.parse(v)))
        for p, value in staged:
            p.set(t.config, value)
        t._rewrite_config()
        return self._frame(props.items(), "property string, value string")

    def _show_create(self, t: LakehouseTable, m) -> DataFrame:
        """SHOW CREATE TABLE: a re-runnable DDL statement reconstructed
        from the persisted table config + latest schema; it names the
        properties that differ from their default."""
        name = self._norm(m.group("name"))
        cfg = t.config
        schema = t._latest_schema()
        hidden = set(META_COLS) | {PP_COL}
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString().upper()}"
            for f in (schema.fields if schema is not None else [])
            if f.name not in hidden
        )
        default = TableConfig(name=name)
        props = ", ".join(
            "{}='{}'".format(p.sql, p.render(p.get(cfg)).replace("'", "''"))
            for p in _PROPS
            if p.get(cfg) != p.get(default)
        )
        stmt = f"CREATE TABLE {name}"
        if cols:
            stmt += f" ({cols})"
        stmt += " USING lakehouse"
        if cfg.partition_by:
            stmt += f" PARTITIONED BY ({', '.join(cfg.partition_by)})"
        if props:
            stmt += f" TBLPROPERTIES ({props})"
        stmt += f" LOCATION '{t.base_path}'"
        return self._frame([(stmt,)], "createtab_stmt string")

    def _vacuum(self, t: LakehouseTable, m) -> DataFrame:
        """VACUUM t [RETAIN n COMMITS]: CALL run_clean, then the sweep
        of files no instant references (Delta VACUUM semantics)."""
        rows, schema = self._run_clean(
            t, _Args("run_clean", {"retain_commits": m.group("n")})
        )
        orphans = maintenance.run_orphan_clean(t)
        return self._frame(rows + [(p,) for p in orphans], schema)

    def _merge_source_keys(
        self,
        t: LakehouseTable,
        talias: str,
        salias: str,
        src_sql: str,
        on_cond: str,
    ) -> DataFrame | None:
        """When the MERGE ON condition's top-level AND conjuncts equate
        EVERY record-key column of the target with a source-side
        expression, return the source's key frame (one column per key,
        named as the target's key columns); else None. Safety gates,
        each degrading to the unpruned path:
        - a top-level OR (or any conjunct we can't read) disables
          pruning — a disjunct could match rows outside the key set;
        - the source expression must resolve to the EXACT type of its
          target key column — a coercing comparison (string source vs
          int key) would hash differently than the persisted index
          entries and silently miss files."""
        rk = t.config.record_key
        if not rk:
            return None
        if find_top_level_keyword(on_cond, "OR") >= 0:
            return None
        rhs_by_key: dict[str, str] = {}
        for conj in split_top_level_keyword(on_cond, "AND"):
            conj = conj.strip()
            if not conj:
                continue
            sp = split_once_top_level(conj, "=")
            if sp is None:
                continue
            a, b = sp[0].strip(), sp[1].strip()
            # reject <= / >= / <=> / != mis-splits: the fragment left of
            # the '=' would end with the operator's first char
            if a.endswith(("<", ">", "!")) or b.startswith(
                ("=", ">")
            ):
                continue
            for lhs, rhs in ((a, b), (b, a)):
                km = re.fullmatch(
                    rf"{re.escape(talias)}\.(\w+)", lhs
                )
                if (
                    km
                    and km.group(1) in rk
                    and not re.search(
                        rf"\b{re.escape(talias)}\.",
                        mask_literals(rhs),
                    )
                ):
                    rhs_by_key.setdefault(km.group(1), rhs)
        if set(rhs_by_key) != set(rk):
            return None
        sel = ", ".join(f"({rhs_by_key[k]}) AS {k}" for k in rk)
        try:
            keys_df = self.spark.sql(
                f"SELECT {sel} FROM {src_sql} {salias}"
            )
        except Exception:
            return None
        tgt_types = {f.name: f.dataType for f in self._data_schema(t)}
        for k in rk:
            if keys_df.schema[k].dataType != tgt_types.get(k):
                return None
        # The MERGE join re-executes the source query; if the source
        # is nondeterministic (rand(), uuid()) or query-varying
        # (current_timestamp is fixed PER execution, and the probe and
        # the join are separate executions), the keys used to prune
        # the target can differ from the join's own evaluation — a
        # matched target row could be pruned away and re-inserted via
        # NOT MATCHED, duplicating its key. Disable pruning for such
        # sources.
        if not _plan_deterministic(keys_df):
            return None
        return keys_df

    def _merge(self, t: LakehouseTable, m: re.Match) -> DataFrame:
        """MERGE = one joined frame annotated with the winning clause,
        split into an upsert batch and a delete batch. Single shuffle
        on the join condition; Catalyst plans the join itself."""
        target_name = self._norm(m.group("name"))
        talias = m.group("talias") or target_name
        source = m.group("source")
        salias = m.group("salias")
        rest_override = None
        if source.startswith("(") and not _parens_balanced(source):
            # The header regex's lazy `\(.+?\)` cut a nested subquery
            # short (a `) alias ON` sequence INSIDE the subquery — e.g.
            # a join of a derived table). Re-extract with a
            # literal-masked depth scan from the source's start.
            stmt = m.group(0)
            masked = mask_literals(stmt)
            i = m.start("source")
            depth = 0
            j = i
            while j < len(masked):
                if masked[j] == "(":
                    depth += 1
                elif masked[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if depth != 0:
                raise SqlParseError(
                    "unbalanced parentheses in MERGE USING source"
                )
            source = stmt[i : j + 1]
            tail = stmt[j + 1 :]
            tm = re.match(
                r"\s*(?:AS\s+)?(?P<salias>\w+)?\s*\bON\b(?P<rest>.+)$",
                mask_literals(tail),
                re.IGNORECASE | re.DOTALL,
            )
            if tm is None:
                raise SqlParseError(
                    "expected [alias] ON <condition> after MERGE USING "
                    "(<subquery>)"
                )
            salias = tm.group("salias")
            rest_override = tail[tm.start("rest") :]
        if salias is None:
            salias = (
                None if source.startswith("(") else self._norm(source)
            )
        if salias is None:
            raise ValueError("MERGE subquery source requires an alias")
        self.register_views()
        # Target registration is deferred until the WHEN clauses are
        # parsed: a MERGE with no NOT MATCHED BY SOURCE clause never
        # reads target rows whose key is absent from the source, so the
        # target view can be the keyed point read (below).

        def unqual(expr: str | None) -> str | None:
            """Rewrite alias-qualified refs for the joined frame:
            target.c → __t_c, source.c → c (source cols are unqualified
            in __merge_joined). Masked sub: an alias-looking substring
            inside a string literal is never rewritten."""
            if expr is None:
                return None
            expr = sub_masked(
                re.compile(rf"\b{re.escape(talias)}\.(\w+)"), r"__t_\1", expr
            )
            expr = sub_masked(
                re.compile(rf"\b{re.escape(salias)}\.(\w+)"), r"\1", expr
            )
            return expr

        rest = rest_override if rest_override is not None else m.group("rest")
        wpos = find_top_level_keyword(rest, "WHEN")
        if wpos < 0:
            raise SqlParseError("MERGE requires at least one WHEN clause")
        on_cond = rest[:wpos].strip()
        validate_expression(on_cond, "MERGE ON condition")

        tcols = [f.name for f in self._data_schema(t)]
        tcols_set = set(tcols)

        def retarget_by_source(expr: str | None) -> str | None:
            """Rewrite a NOT MATCHED BY SOURCE condition/action for the
            joined frame: these clauses see ONLY the target side (the
            source columns are all NULL on target-only rows), so
            source-alias references are rejected and BARE identifiers
            that name target columns bind to the target (`__t_`) side —
            never to the NULL source column of the same name."""
            if expr is None:
                return None
            if re.search(
                rf"\b{re.escape(salias)}\.", mask_literals(expr)
            ):
                raise SqlParseError(
                    "WHEN NOT MATCHED BY SOURCE cannot reference the "
                    f"source relation {salias!r}"
                )
            expr = sub_masked(
                re.compile(rf"\b{re.escape(talias)}\.(\w+)"), r"__t_\1", expr
            )
            toks = tokenize(expr)
            spans = []
            for i, tk in enumerate(toks):
                if tk.kind != "IDENT" or tk.text not in tcols_set:
                    continue
                prev = toks[i - 1] if i > 0 else None
                nxt = toks[i + 1]
                if prev is not None and prev.kind == "OP" and prev.text == ".":
                    continue  # qualified ref, already rewritten
                if nxt.kind == "OP" and nxt.text in (".", "("):
                    continue  # alias qualifier / function name
                spans.append((tk.pos, tk.pos + len(tk.text)))
            for a, b in reversed(spans):
                expr = expr[:a] + "__t_" + expr[a:]
            return expr

        # Clause groups, each evaluated IN ORDER with first-match-wins
        # gating (Spark 3.4 / Delta MERGE semantics; the reference
        # declares the MERGE surface in
        # spark-sql-nonpartitioned-managed-cow.yaml): MATCHED →
        # UPDATE/DELETE, NOT MATCHED [BY TARGET] → INSERT, NOT MATCHED
        # BY SOURCE → UPDATE/DELETE over target-only rows.
        matched_clauses: list[tuple[str | None, str, str]] = []
        insert_clauses: list[tuple[str | None, str]] = []
        by_source_clauses: list[tuple[str | None, str, str]] = []
        segments = split_top_level_keyword(rest[wpos:], "WHEN")
        # segments[0] is the (empty) text before the first WHEN
        if segments[0].strip():
            raise SqlParseError(
                f"unexpected text before WHEN clause: {segments[0]!r}"
            )
        for seg in segments[1:]:
            cm = match_masked(_MATCHED_RE, seg)
            if cm is None:
                raise SqlParseError(f"malformed MERGE clause: WHEN{seg!r}")
            tail = cm.group("tail")
            tpos = find_top_level_keyword(tail, "THEN")
            if tpos < 0:
                raise SqlParseError(f"MERGE clause missing THEN: WHEN{seg!r}")
            cond_part = tail[:tpos]
            action_src = tail[tpos + len("THEN") :].strip()
            cond_src = None
            if cond_part.strip():
                and_m = re.match(r"^\s*AND\b", cond_part, re.IGNORECASE)
                if not and_m:
                    raise SqlParseError(
                        f"expected AND <condition> after MATCHED, got "
                        f"{cond_part.strip()!r}"
                    )
                cond_src = cond_part[and_m.end() :].strip()
                validate_expression(cond_src, "MERGE WHEN condition")
            by = (cm.group("by") or "").upper()
            if cm.group("not") and by == "SOURCE":
                action = retarget_by_source(action_src)
                cond = retarget_by_source(cond_src)
                if re.fullmatch(r"DELETE", action, re.IGNORECASE):
                    by_source_clauses.append((cond, "delete", action))
                elif re.fullmatch(
                    r"UPDATE\s+SET\s*\*", action, re.IGNORECASE
                ):
                    raise SqlParseError(
                        "UPDATE SET * is meaningless in WHEN NOT MATCHED "
                        "BY SOURCE (the source side is NULL there)"
                    )
                elif re.match(r"^UPDATE\s+SET\b", action, re.IGNORECASE):
                    by_source_clauses.append((cond, "update", action))
                else:
                    raise SqlParseError(
                        "WHEN NOT MATCHED BY SOURCE supports UPDATE SET "
                        f"/ DELETE, got {action!r}"
                    )
                continue
            action = unqual(action_src)
            cond = unqual(cond_src)
            if cm.group("not"):
                if not re.match(r"^INSERT\b", action, re.IGNORECASE):
                    raise SqlParseError(
                        "WHEN NOT MATCHED supports INSERT only, got "
                        f"{action!r}"
                    )
                insert_clauses.append((cond, action))
            elif by:
                raise SqlParseError(
                    "BY SOURCE/TARGET applies to NOT MATCHED clauses only"
                )
            elif re.fullmatch(r"DELETE", action, re.IGNORECASE):
                matched_clauses.append((cond, "delete", action))
            elif re.match(r"^UPDATE\s+SET\b", action, re.IGNORECASE):
                matched_clauses.append((cond, "update", action))
            else:
                raise SqlParseError(
                    "WHEN MATCHED supports UPDATE SET / DELETE, got "
                    f"{action!r}"
                )
        for group, label in (
            (matched_clauses, "WHEN MATCHED"),
            (insert_clauses, "WHEN NOT MATCHED"),
            (by_source_clauses, "WHEN NOT MATCHED BY SOURCE"),
        ):
            # Spark parity: when a group has several clauses, only the
            # LAST may omit its AND condition — an unconditional earlier
            # clause would shadow every later one.
            for clause in group[:-1]:
                if clause[0] is None:
                    raise SqlParseError(
                        f"only the last {label} clause can omit its AND "
                        "condition"
                    )

        key0 = t.config.record_key[0]
        src_sql = source
        tproj = ", ".join(f"{talias}.{c} AS __t_{c}" for c in tcols)
        # `__merge_target_<name>`: the keyed point read when the ON
        # condition equates the whole record key with the source and no
        # NOT MATCHED BY SOURCE clause needs the target-only rows, else
        # the full snapshot. Sound because the keyed read holds EVERY
        # target row whose key appears in the source (the probe file set
        # is a superset per key), so matched-row detection and all
        # MATCHED/NOT MATCHED populations are unchanged.
        target_df = self._keyed_read(
            t,
            "merge",
            None
            if by_source_clauses
            else self._merge_source_keys(t, talias, salias, src_sql, on_cond),
        )
        if target_df is None:
            target_df = t.snapshot()
        target_df.createOrReplaceTempView(f"__merge_target_{target_name}")
        if by_source_clauses:
            # BY SOURCE needs the target-only rows: full-outer join with
            # an explicit source-presence marker (a key-null probe alone
            # cannot tell the two sides apart).
            src_view = f"__merge_source_{target_name}"
            self.spark.sql(
                f"SELECT {salias}.*, true AS __s_present "
                f"FROM {src_sql} {salias}"
            ).createOrReplaceTempView(src_view)
            present = f"coalesce({salias}.__s_present, false)"
            base = (
                f"SELECT {tproj}, {salias}.*, "
                f"({present} AND {talias}.{key0} IS NOT NULL) AS __matched, "
                f"({present} AND {talias}.{key0} IS NULL) AS __src_only, "
                f"(NOT {present}) AS __tgt_only "
                f"FROM {src_view} {salias} "
                f"FULL OUTER JOIN __merge_target_{target_name} {talias} "
                f"ON {on_cond}"
            )
        else:
            base = (
                f"SELECT {tproj}, {salias}.*, "
                f"({talias}.{key0} IS NOT NULL) AS __matched, "
                f"({talias}.{key0} IS NULL) AS __src_only, "
                f"false AS __tgt_only "
                f"FROM {src_sql} {salias} "
                f"LEFT JOIN __merge_target_{target_name} {talias} "
                f"ON {on_cond}"
            )
        joined = self.spark.sql(base)
        joined.createOrReplaceTempView("__merge_joined")

        def gate(group_flag: str, conds: list, i: int) -> str:
            """First-match-wins guard for clause i of a group: the
            group's row-population flag AND this clause's condition AND
            no earlier clause's condition (NULL condition = false)."""
            own = conds[i] if conds[i] is not None else "true"
            parts = [group_flag, f"coalesce(({own}), false)"]
            parts.extend(
                f"NOT coalesce(({conds[j] if conds[j] is not None else 'true'}), false)"
                for j in range(i)
            )
            return " AND ".join(parts)

        def update_select(action: str, prefix_where: str) -> str:
            sets = {}
            body = re.sub(
                r"^UPDATE\s+SET\s*", "", action, flags=re.IGNORECASE
            ).strip()
            if body == "*":
                # Delta's `UPDATE SET *`: every target column takes the
                # same-named source column (columns only the target has
                # keep their value).
                src_cols = {
                    c
                    for c in joined.columns
                    if not c.startswith("__t_")
                    and c
                    not in ("__matched", "__src_only", "__tgt_only",
                            "__s_present")
                }
                sel = [
                    f"{c} AS {c}" if c in src_cols else f"__t_{c} AS {c}"
                    for c in tcols
                ]
                return (
                    f"SELECT {', '.join(sel)} FROM __merge_joined "
                    f"WHERE {prefix_where}"
                )
            for kv in _split_top_level(
                re.sub(r"^UPDATE\s+SET\s+", "", action, flags=re.IGNORECASE)
            ):
                split = split_once_top_level(kv, "=")
                if split is None:
                    raise ValueError(f"bad MERGE SET assignment: {kv!r}")
                k = strip_ident_quotes(split[0].strip()).split(".")[-1]
                # target-qualified SET keys were alias-rewritten by
                # unqual above — strip the marker back to the column
                if k.startswith("__t_"):
                    k = k[4:]
                sets[k] = validate_expression(
                    split[1].strip(), f"MERGE SET {k}"
                )
            sel = []
            for c in tcols:
                if c in sets:
                    sel.append(f"({sets[c]}) AS {c}")
                else:
                    sel.append(f"__t_{c} AS {c}")
            return (
                f"SELECT {', '.join(sel)} FROM __merge_joined "
                f"WHERE {prefix_where}"
            )

        # (gate, SELECT) per upsert clause; the gate of each delete clause
        upserts: list[tuple[str, str]] = []
        delete_wheres: list[str] = []
        m_conds = [c for c, _k, _a in matched_clauses]
        for i, (_c, kind, action) in enumerate(matched_clauses):
            w = gate("__matched", m_conds, i)
            if kind == "update":
                upserts.append((w, update_select(action, w)))
            else:
                delete_wheres.append(w)
        s_conds = [c for c, _k, _a in by_source_clauses]
        for i, (_c, kind, action) in enumerate(by_source_clauses):
            w = gate("__tgt_only", s_conds, i)
            if kind == "update":
                upserts.append((w, update_select(action, w)))
            else:
                delete_wheres.append(w)
        i_conds = [c for c, _a in insert_clauses]
        for i, (_c, action) in enumerate(insert_clauses):
            body = re.sub(r"^INSERT\s*", "", action, flags=re.IGNORECASE).strip()
            w = gate("__src_only", i_conds, i)
            if body == "*":
                sel = ", ".join(tcols)
            else:
                cm = match_masked(
                    re.compile(r"\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.+)\)",
                               re.IGNORECASE | re.DOTALL),
                    body,
                )
                cols = [
                    strip_ident_quotes(c.strip())
                    for c in _split_top_level(cm.group("cols"))
                ]
                vals = [
                    validate_expression(v.strip(), "MERGE INSERT value")
                    for v in _split_top_level(cm.group("vals"))
                ]
                mapping = dict(zip(cols, vals))
                sel = ", ".join(
                    f"({mapping[c]}) AS {c}" if c in mapping else f"NULL AS {c}"
                    for c in tcols
                )
            upserts.append((w, f"SELECT {sel} FROM __merge_joined WHERE {w}"))
        # The joined frame (source, target read and join) runs once: one
        # aggregate counts every clause's rows and fills the cache that
        # both writes read, so both see the same target state. Clauses
        # that match no row drop out; an empty group makes no commit.
        gates = {f"u{i}": w for i, (w, _u) in enumerate(upserts)}
        gates.update({f"d{i}": w for i, w in enumerate(delete_wheres)})
        with counted(
            joined, **{k: F.expr(w) for k, w in gates.items()}
        ) as (_joined, n):
            live = [f"({u})" for i, (_w, u) in enumerate(upserts) if n[f"u{i}"]]
            if live:
                batch = self.spark.sql(" UNION ALL ".join(live))
                t.upsert(self._align(t, batch))
            kproj = ", ".join(
                f"__t_{k} AS {k}" for k in t.config.record_key
            )
            live = [
                f"(SELECT {kproj} FROM __merge_joined WHERE {w})"
                for i, w in enumerate(delete_wheres)
                if n[f"d{i}"]
            ]
            if live:
                t.delete(self.spark.sql(" UNION ALL ".join(live)))
        return self._frame()

    #: (pattern, handler) of the statements over one managed table, tried
    #: in order. A statement naming a table the engine does not manage
    #: passes through to Spark SQL, except those in _ENGINE_ONLY.
    _STATEMENTS = (
        (_MERGE_RE, _merge),
        (_UPDATE_RE, _update),
        (_DELETE_RE, _delete),
        (_INSERT_RE, _insert),
        (_CREATE_INDEX_RE, _create_index),
        (_DROP_INDEX_RE, _drop_index),
        (_TRUNCATE_RE, _truncate),
        (_SHOW_PARTS_RE, _show_partitions),
        (_SHOW_INDEXES_RE, _procedure_form("show_indexes")),
        (_CHANGES_RE, _changes),
        (_HISTORY_RE, _procedure_form("show_commits")),
        (_DESCRIBE_RE, _describe),
        (_ALTER_ADD_RE, _alter_add),
        (_ALTER_RENAME_RE, _alter_rename),
        (_ALTER_TYPE_RE, _alter_type),
        (_ALTER_DROP_RE, _alter_drop),
        (_ALTER_PROPS_RE, _alter_props),
        (_SHOW_CREATE_RE, _show_create),
        (_COMPACT_RE, _procedure_form("run_compaction")),
        (
            _CLUSTER_RE,
            _procedure_form("run_clustering", order="cols", strategy="strategy"),
        ),
        (_SAVEPOINT_RE, _procedure_form("create_savepoint", instant="instant")),
        (_RESTORE_RE, _procedure_form("rollback_to_instant", instant="instant")),
        (_VACUUM_RE, _vacuum),
    )
    #: Spark SQL cannot UPDATE or MERGE INTO a view either, so an unknown
    #: target is an error here rather than a passthrough.
    _ENGINE_ONLY = (_update, _merge)
