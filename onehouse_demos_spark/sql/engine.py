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
from onehouse_demos_spark.tables.table import LakehouseTable, TableConfig, counted

#: table-name pattern: dotted words, each part optionally backticked
#: (masked identifier contents are word chars, so this matches the
#: MASKED text; the span then slices the original, quotes included).
_NAME = r"[\w.`]+"

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
    r"(?P<type>.+?)\s*$",
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
#: the clause (VERDICT r4 ask #7; the lazy-regex split did).
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<target>[\w.`]+)(?:\s+(?:AS\s+)?(?P<talias>\w+))?\s+"
    r"USING\s+(?P<source>[\w.`]+|\(.+?\))(?:\s+(?:AS\s+)?(?P<salias>\w+))?\s+"
    r"ON\s+(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)
#: TBLPROPERTIES key (lowercased) -> pre-commit validator type.
_VALIDATOR_PROP_TYPES = {
    "precommitequalitysql": "equality",
    "precommitinequalitysql": "inequality",
    "precommitsingleresultsql": "single_result",
}


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


def _validators_from_props(props: dict) -> list[dict]:
    """Pre-commit validators from TBLPROPERTIES (Hudi
    hoodie.precommit.validators formats): ';'-separated SQL with
    <TABLE> placeholders; single-result entries are 'query#expected'."""
    out: list[dict] = []
    for key, typ in _VALIDATOR_PROP_TYPES.items():
        for q in props.get(key, "").split(";"):
            q = q.strip()
            if not q:
                continue
            if typ == "single_result":
                if "#" not in q:
                    continue
                query, expected = q.rsplit("#", 1)
                out.append(
                    {
                        "type": typ,
                        "query": query.strip(),
                        "expected": expected.strip(),
                    }
                )
            else:
                out.append({"type": typ, "query": q})
    return out


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
        #: register-by-location formats (ADVICE r4).
        self._attached: dict[str, str] = {}
        #: lakehouse attaches whose location failed to load at
        #: discovery (transient FS error, unmounted store): kept out of
        #: `_tables` but still serialized by `_persist_external`, so a
        #: transient failure never permanently unregisters the table
        #: (ADVICE r5). A later successful attach clears the entry.
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
            cfg = os.path.join(
                self.warehouse_dir, name, "_commits", "table_config.json"
            )
            if os.path.exists(cfg):
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

    @staticmethod
    def _norm(name: str) -> str:
        # split on top-level dots BEFORE unquoting, so a dot inside a
        # backticked part (`my.table`) stays part of the name
        last = _split_top_level(name, sep=".")[-1].strip()
        return strip_ident_quotes(last).lower()

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
        log/manifest files only; the parquet scan stays lazy)."""
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
            df.createOrReplaceTempView(name)
            self._register_hudi_mor_pair(name)
            if token is not None:
                self._external_view_tokens[name] = token

    def _register_hudi_mor_pair(self, name: str) -> None:
        """A registered MERGE_ON_READ Hudi personality gets the
        reference's hive-sync view pair (README.md:343-344):
        `<name>_ro` (base slices only) and `<name>_rt` (base + real
        HoodieLogFormat log blocks merged at read — r10 rt leg).
        The `_rt` merge needs the personality's engine columns
        (`_oh_key`/`_oh_commit`), so FOREIGN Hudi MOR tables — a real
        `.hoodie` attached by location, no `sync_state.json` — get
        `_ro` only instead of a view that raises once log records
        decode (r11 advisor item)."""
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
                # `_ro`/`_rt` pair re-registers on the flip (r11).
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
            # cheap token would serve stale snapshots (ADVICE r5).
            # None = always re-register the view (the pre-cache
            # behavior; the parquet scan itself stays lazy).
            return None
        except OSError:
            return None

    # ----------------------------------------------------------------- sql

    def sql(self, statement: str) -> DataFrame:
        s = strip_comments(statement).strip().rstrip(";")
        m = match_masked(_CALL_RE, s)
        if m:
            return self._call(m)
        m = match_masked(_MERGE_RE, s)
        if m:
            return self._merge(m)
        m = match_masked(_UPDATE_RE, s)
        if m:
            return self._update(m)
        m = match_masked(_DELETE_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            return self._delete(m)
        m = match_masked(_INSERT_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            return self._insert(m)
        m = match_masked(_CREATE_RE, s)
        if m and m.group("location"):
            return self._create_at_location(m)
        if m and (m.group("format") or "").lower() in ("lakehouse", "oh", ""):
            if m.group("format") or m.group("props") or m.group("ctas"):
                return self._create(m)
        m = match_masked(_CREATE_INDEX_RE, s) or None
        if m and self._norm(m.group("name")) in self._tables:
            t = self._tables[self._norm(m.group("name"))]
            target = strip_ident_quotes(m.group("target").strip())
            if target.lower() == "record_key":
                t.enable_record_index()
            elif target.isidentifier():
                t.create_secondary_index(target)
            else:
                t.create_expression_index(target)
            return self.spark.createDataFrame(
                [(target,)], "indexed string"
            )
        m = match_masked(_DROP_INDEX_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            t = self._tables[self._norm(m.group("name"))]
            target = strip_ident_quotes(m.group("target").strip())
            t.drop_index(
                "record_key" if target.lower() == "record_key" else target
            )
            return self.spark.createDataFrame(
                [(target,)], "dropped string"
            )
        m = match_masked(_TRUNCATE_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            # TRUNCATE TABLE (Hudi spark-sql surface): one replace
            # commit removing every live file — time travel to
            # pre-truncate instants still works until cleaned
            name = self._norm(m.group("name"))
            t = self._tables[name]
            from pyspark.sql import types as _T

            empty = self.spark.createDataFrame(
                [], _T.StructType(self._data_schema(t))
            )
            t.insert_overwrite_table(empty)
            t.register_view(name)
            return self.spark.createDataFrame([], "result string")
        m = match_masked(_DROP_RE, s)
        if m:
            name = self._norm(m.group("name"))
            if name in self._external:
                # external registration: unlink the catalog entry only
                del self._external[name]
                self._external_view_tokens.pop(name, None)
                self._persist_external()
                self.spark.catalog.dropTempView(name)
                return self.spark.createDataFrame([], "result string")
            if name in self._attached:
                # attached-by-location engine table: unregister only —
                # the engine does not own the files
                del self._attached[name]
                del self._tables[name]
                self._persist_external()
                for view in (name, f"{name}_ro", f"{name}_rt"):
                    self.spark.catalog.dropTempView(view)
                return self.spark.createDataFrame([], "result string")
            if name in self._quarantined:
                # explicit DROP of a quarantined attach: the operator
                # decided the location is gone for good — unregister
                del self._quarantined[name]
                self._persist_external()
                return self.spark.createDataFrame([], "result string")
            if name in self._tables:
                self.drop_table(name)
                for view in (name, f"{name}_ro", f"{name}_rt"):
                    self.spark.catalog.dropTempView(view)
                return self.spark.createDataFrame([], "result string")
            if m.group("if_exists"):
                return self.spark.createDataFrame([], "result string")
            raise ValueError(f"table {name} does not exist")
        m = match_masked(_SHOW_PARTS_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            return self._show_partitions(self._norm(m.group("name")))
        m = _SHOW_INDEXES_RE.match(s)
        if m and self._norm(m.group("name")) in self._tables:
            return self.sql(
                f"CALL show_indexes(table => '{self._norm(m.group('name'))}')"
            )
        if _SHOW_TABLES_RE.match(s):
            return self._show_tables()
        m = match_masked(_CHANGES_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            # table-valued CHANGES(t, 'begin' [, 'end']): the CDC read
            # view (insert/update/delete classification). Empty begin
            # string = bootstrap (everything is an insert).
            t = self._tables[self._norm(m.group("name"))]
            begin = m.group("begin") or None
            return t.changes(begin=begin, end=m.group("end"))
        m = match_masked(_HISTORY_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            return self._history(self._norm(m.group("name")))
        m = match_masked(_DESCRIBE_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            return self._describe(self._norm(m.group("name")))
        m = match_masked(_ALTER_ADD_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            return self._alter_add(m)
        m = match_masked(_ALTER_RENAME_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            name = self._norm(m.group("name"))
            t = self._tables[name]
            old = strip_ident_quotes(m.group("old"))
            new = strip_ident_quotes(m.group("new"))
            t.rename_column(old, new)
            t.register_view(name)
            return self.spark.createDataFrame(
                [(old, new)], "renamed_from string, renamed_to string"
            )
        m = match_masked(_ALTER_TYPE_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            name = self._norm(m.group("name"))
            t = self._tables[name]
            col = strip_ident_quotes(m.group("col"))
            t.widen_column(col, m.group("type"))
            t.register_view(name)
            return self.spark.createDataFrame(
                [(col, m.group("type"))],
                "altered_column string, new_type string",
            )
        m = match_masked(_ALTER_DROP_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            name = self._norm(m.group("name"))
            t = self._tables[name]
            cols = (
                [c.strip() for c in m.group("cols").split(",")]
                if m.group("cols")
                else [m.group("col")]
            )
            for c in cols:
                t.drop_column(strip_ident_quotes(c))
            t.register_view(name)
            return self.spark.createDataFrame(
                [(strip_ident_quotes(c),) for c in cols],
                "dropped_column string",
            )
        m = match_masked(_ALTER_PROPS_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            return self._alter_props(m)
        m = match_masked(_SHOW_CREATE_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            return self._show_create(self._norm(m.group("name")))
        m = match_masked(_COMPACT_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            from onehouse_demos_spark.tables.maintenance import run_compaction

            run_compaction(self._tables[self._norm(m.group("name"))])
            return self.spark.createDataFrame([], "result string")
        m = match_masked(_CLUSTER_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            from onehouse_demos_spark.tables.maintenance import run_clustering

            cols = [c.strip().strip("`") for c in m.group("cols").split(",")]
            strategy = (m.group("strategy") or "linear").lower()
            run_clustering(
                self._tables[self._norm(m.group("name"))], cols,
                strategy=strategy,
            )
            return self.spark.createDataFrame([], "result string")
        m = match_masked(_SAVEPOINT_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            from onehouse_demos_spark.tables.maintenance import create_savepoint

            target = create_savepoint(
                self._tables[self._norm(m.group("name"))], m.group("instant")
            )
            return self.spark.createDataFrame(
                [(target,)], "savepointed_instant string"
            )
        m = match_masked(_RESTORE_RE, s)
        if m and self._norm(m.group("name")) in self._tables:
            from onehouse_demos_spark.tables.maintenance import run_restore

            name = self._norm(m.group("name"))
            res = run_restore(self._tables[name], m.group("instant"))
            self._tables[name].register_view(name)
            return self.spark.createDataFrame(
                [(res["restored_to"], len(res["removed_instants"]),
                  len(res["deleted_files"]))],
                "restored_to string, removed_instants int, deleted_files int",
            )
        m = _VACUUM_RE.match(s)
        if m and self._norm(m.group("name")) in self._tables:
            from onehouse_demos_spark.tables.maintenance import (
                run_clean,
                run_orphan_clean,
            )

            t = self._tables[self._norm(m.group("name"))]
            keep = int(m.group("n") or 10)
            removed = run_clean(t, keep_last_commits=keep)
            removed += run_orphan_clean(t)
            return self.spark.createDataFrame(
                [(p,) for p in removed], "removed_file string"
            )
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
        return self.spark.createDataFrame(
            rows or [], "tableName string, tableType string, location string"
        )

    def _show_partitions(self, name: str) -> DataFrame:
        parts = self._tables[name].manifest.partitions()
        return self.spark.createDataFrame(
            [(p,) for p in parts], "partition string"
        )

    def _describe(self, name: str) -> DataFrame:
        info = self._tables[name].describe()
        rows = sorted((k, str(v)) for k, v in info.items())
        return self.spark.createDataFrame(rows, "col_name string, value string")

    def _history(self, name: str, limit: int | None = None) -> DataFrame:
        t = self._tables[name]
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
        if limit is not None:
            rows = rows[-limit:]
        return self.spark.createDataFrame(
            rows,
            "instant string, action string, operation string, "
            "n_adds int, n_removes int, rows_written long",
        )

    # -- CALL procedures + register-by-location (reference S10 external
    # registration: demo.md:208 `CREATE TABLE delta_db.people USING
    # DELTA LOCATION ...`, demo.md:225 `CALL hive_prod.system.
    # register_table(...)`; the maintenance procedures mirror Hudi's
    # spark-sql CALL surface, README.md:1126-1160) ---------------------------

    @staticmethod
    def _parse_call_args(args: str) -> dict[str, str]:
        """`name => 'value'` pairs (Iceberg/Hudi style) plus bare
        positional values keyed '0','1',...; quotes stripped, keyword
        case folded. `=>`/`=` inside a value string never splits."""
        out: dict[str, str] = {}
        pos = 0
        for part in _split_top_level(args):
            part = part.strip()
            if not part:
                continue
            split = split_once_top_level(part, "=")
            if split is None:
                out[str(pos)] = part.strip("'\"")
                pos += 1
            else:
                k, v = split
                out[k.strip().lower()] = v.lstrip(">").strip().strip("'\"")
        return out

    def _call(self, m) -> DataFrame:
        proc = strip_ident_quotes(m.group("proc")).split(".")[-1].lower()
        a = self._parse_call_args(m.group("args") or "")

        def arg(*names: str, default: str | None = None) -> str | None:
            for n in names:
                if n in a:
                    return a[n]
            return default

        def req(*names: str) -> str:
            v = arg(*names)
            if v is None:
                raise ValueError(
                    f"CALL {proc}: missing required argument {names[0]!r}"
                )
            return v

        if proc == "register_table":
            return self._register_table(
                req("table", "0"), req("metadata_file", "1")
            )
        if proc == "bootstrap_table":
            # Metadata-only onboarding of an existing parquet dataset
            # into a NEW managed table (Hudi bootstrap analog):
            # CALL bootstrap_table(table => 't', location => '/data',
            #   primary_key => 'id'[, precombine => 'ver']
            #   [, partition_by => 'dt,region']  -- r9: hive-layout
            #   sources decode col=val dirs into real partitions).
            tname = self._norm(req("table", "0"))
            if tname in self._tables or tname in self._external:
                raise ValueError(f"table {tname} already exists")
            t = LakehouseTable.create(
                self.spark,
                f"{self.warehouse_dir}/{tname}",
                TableConfig(
                    name=tname,
                    record_key=[
                        c.strip()
                        for c in req("primary_key", "primarykey").split(",")
                        if c.strip()
                    ],
                    precombine=arg("precombine") or None,
                    partition_by=[
                        c.strip()
                        for c in (arg("partition_by") or "").split(",")
                        if c.strip()
                    ],
                ),
            )
            inst = t.bootstrap(req("location", "1"))
            self._tables[tname] = t
            t.register_view(tname)
            return self.spark.createDataFrame(
                [(tname, inst.instant, len(inst.adds))],
                "table string, instant string, files int",
            )

        name = self._norm(req("table", "0"))
        if name not in self._tables:
            raise ValueError(f"table {name} does not exist")
        t = self._tables[name]

        if proc in ("show_commits", "show_commits_metadata"):
            lim = arg("limit")
            return self._history(name, int(lim) if lim else None)
        if proc == "show_compactions":
            # `compactions show all` (README.md:1128-1132): REQUESTED
            # persisted plans + COMPLETED compaction commits
            from onehouse_demos_spark.tables.maintenance import (
                show_compactions,
            )

            rows = [
                (r["instant"], r["state"], r["n_files"])
                for r in show_compactions(t)
            ]
            return self.spark.createDataFrame(
                rows or [], "instant string, state string, n_files int"
            )
        if proc == "run_compaction":
            from onehouse_demos_spark.tables.maintenance import (
                load_compaction_plan,
                request_compaction,
                run_compaction,
                schedule_compaction,
            )

            op = (arg("op", default="scheduleandexecute") or "").lower()
            if op == "schedule":
                # persist a REQUESTED plan (the Hudi CLI `compaction
                # schedule` step); run it later by timestamp
                req = request_compaction(t)
                n = (
                    len(load_compaction_plan(t, req).log_files)
                    if req is not None else 0
                )
                return self.spark.createDataFrame(
                    [(op, req, n, False)],
                    "op string, instant string, n_log_files int, "
                    "executed boolean",
                )
            ts = arg("timestamp", "instant")
            if op in ("run", "execute") and ts is not None:
                # `compaction run --compactionInstant <ts>`
                run_compaction(t, instant=ts)
                t.register_view(name)
                return self.spark.createDataFrame(
                    [(op, ts, True)],
                    "op string, instant string, executed boolean",
                )
            plan = schedule_compaction(t)
            executed = False
            if op in ("run", "execute", "scheduleandexecute") and not plan.empty:
                run_compaction(t, plan)
                executed = True
            t.register_view(name)
            return self.spark.createDataFrame(
                [(op, len(plan.log_files), len(plan.partitions), executed)],
                "op string, n_log_files int, n_partitions int, executed boolean",
            )
        if proc == "show_clustering":
            from onehouse_demos_spark.tables.maintenance import (
                show_clustering,
            )

            rows = [
                (r["instant"], r["state"], r["n_files"])
                for r in show_clustering(t)
            ]
            return self.spark.createDataFrame(
                rows or [], "instant string, state string, n_files int"
            )
        if proc == "run_clustering":
            from onehouse_demos_spark.tables.maintenance import (
                request_clustering,
                run_clustering,
            )

            op = (arg("op", default="scheduleandexecute") or "").lower()
            ts = arg("timestamp", "instant")
            if op in ("run", "execute") and ts is not None:
                # execute a persisted REQUESTED clustering plan
                run_clustering(t, instant=ts)
                t.register_view(name)
                return self.spark.createDataFrame(
                    [(op, ts, True)],
                    "op string, instant string, executed boolean",
                )
            cols = [
                strip_ident_quotes(c.strip())
                for c in req("order", "order_by").split(",")
                if c.strip()
            ]
            strategy = (arg("strategy", default="linear") or "linear").lower()
            if op == "schedule":
                req_instant = request_clustering(t, cols, strategy=strategy)
                return self.spark.createDataFrame(
                    [(op, req_instant, ",".join(cols), False)],
                    "op string, instant string, order_columns string, "
                    "executed boolean",
                )
            run_clustering(t, cols, strategy=strategy)
            t.register_view(name)
            return self.spark.createDataFrame(
                [(",".join(cols), strategy)], "order_columns string, strategy string"
            )
        if proc == "run_clean":
            from onehouse_demos_spark.tables.maintenance import run_clean

            keep = int(arg("retain_commits", "keep_last_commits", default="10"))
            removed = run_clean(t, keep_last_commits=keep)
            return self.spark.createDataFrame(
                [(p,) for p in removed], "removed_file string"
            )
        if proc == "run_partition_ttl":
            from onehouse_demos_spark.tables.maintenance import (
                run_partition_ttl,
            )

            days = arg("retain_days")
            commits = arg("retain_commits")
            expired = run_partition_ttl(
                t,
                retain_days=float(days) if days else None,
                retain_commits=int(commits) if commits else None,
            )
            t.register_view(name)
            return self.spark.createDataFrame(
                [(p,) for p in expired], "expired_partition string"
            )
        if proc == "show_indexes":
            # Hudi 1.0 `SHOW INDEXES` analog: one row per index with
            # its layout state (delta dirs pending fold, base presence).
            rows = []
            idxs = []
            if t.record_index is not None:
                idxs.append(("record_index", "record_key", t.record_index))
            for col, ix in sorted(t.secondary_indexes.items()):
                idxs.append((f"secondary_{col}", col, ix))
            for expr2, ix in sorted(t.expression_indexes.items()):
                idxs.append(("expression", expr2, ix))
            for name2, on_col, ix in idxs:
                deltas, bases = ix._dirs()
                rows.append(
                    (name2, on_col, ix.buckets, len(deltas), len(bases))
                )
            return self.spark.createDataFrame(
                rows or [],
                "index_name string, on string, buckets int, "
                "delta_dirs int, base_dirs int",
            )
        if proc == "compact_record_index":
            # Fold the record-level index's per-commit delta dirs into
            # one base (Hudi metadata-table compaction analog); drops
            # entries for dead files while folding.
            if t.record_index is None:
                raise ValueError(
                    f"table {name} has no record-level index "
                    "(create with record_index=True)"
                )
            folded = t.record_index.compact(
                self.spark,
                {f.path for f in t.manifest.live_files(include_logs=False)},
            )
            return self.spark.createDataFrame(
                [(folded,)], "folded_index_dirs int"
            )
        if proc == "archive_commits":
            from onehouse_demos_spark.tables.maintenance import run_archival

            keep = int(arg("keep_last", default="50"))
            archived = run_archival(t, keep_last=keep)
            return self.spark.createDataFrame(
                [(archived,)], "archived_instants int"
            )
        if proc == "create_savepoint":
            from onehouse_demos_spark.tables.maintenance import create_savepoint

            target = create_savepoint(t, arg("commit_time", "instant"))
            return self.spark.createDataFrame(
                [(target,)], "savepointed_instant string"
            )
        if proc == "show_savepoints":
            from onehouse_demos_spark.tables.maintenance import list_savepoints

            return self.spark.createDataFrame(
                list_savepoints(t),
                "savepoint_instant string, saved_instant string",
            )
        if proc == "delete_savepoint":
            from onehouse_demos_spark.tables.maintenance import delete_savepoint

            removed = delete_savepoint(t, req("commit_time", "instant"))
            return self.spark.createDataFrame(
                [(removed,)], "deleted_savepoint string"
            )
        if proc == "split_bucket":
            # r9: consistent-engine hot-bucket split — O(one bucket)
            from onehouse_demos_spark.tables.maintenance import (
                split_bucket,
            )

            b = arg("bucket")
            done = split_bucket(t, int(b) if b is not None else None)
            t.register_view(name)
            return self.spark.createDataFrame(
                [
                    (
                        done.instant if done is not None else "",
                        len(t._bucket_prefix_list()),
                    )
                ],
                "instant string, buckets int",
            )
        if proc == "hudi_index":
            # late-r11: Hudi's async-indexer face (`HoodieIndexer` /
            # `hoodie.metadata.index.*.enable`) — build the named
            # metadata-index partitions over the CURRENT personality
            # state without waiting for a data commit; a partition is
            # sticky-declared after its first build, so later plain
            # syncs keep maintaining it.
            from onehouse_demos_spark.tables.hudi_export import (
                sync_hudi_metadata,
            )

            wanted = [
                p.strip().lower()
                for p in (
                    arg(
                        "partitions",
                        default="column_stats,bloom_filters,record_index",
                    )
                    or ""
                ).split(",")
                if p.strip()
            ]
            valid = {"column_stats", "bloom_filters", "record_index"}
            bad = sorted(set(wanted) - valid)
            if bad:
                raise ValueError(
                    f"hudi_index: unknown partitions {bad}; "
                    f"one of: {sorted(valid)}"
                )
            version = sync_hudi_metadata(
                t,
                column_stats="column_stats" in wanted,
                bloom_filters="bloom_filters" in wanted,
                record_index="record_index" in wanted,
            )
            return self.spark.createDataFrame(
                [(p, version) for p in sorted(wanted)],
                "partition string, version int",
            )
        if proc == "hudi_clean":
            # r10: the personality's clean/archive service — age
            # retired Hudi-named slices past the keep-last-instants
            # horizon and archive their timeline instants (retention
            # semantics mirroring Hudi's own clean).
            from onehouse_demos_spark.tables.hudi_export import (
                clean_hudi_personality,
            )

            keep = int(arg("keep_last_instants", default="10") or "10")
            res = clean_hudi_personality(t, keep_last_instants=keep)
            return self.spark.createDataFrame(
                [
                    (
                        len(res["deleted_files"]),
                        len(res["archived_instants"]),
                    )
                ],
                "deleted_slices int, archived_instants int",
            )
        if proc == "show_bucket_layout":
            # r10 observability for the bucket layouts: one row per
            # bucket — encoded id, prefix (consistent engine), live
            # files and rows — straight from the manifest, no data IO.
            if not t.config.bucket_index_buckets:
                raise ValueError(
                    f"{name} has no bucket-index layout"
                )
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
                    (
                        b,
                        label,
                        len(files),
                        sum(f.rows for f in files),
                        b in set(ids),
                    )
                )
            return self.spark.createDataFrame(
                rows,
                "bucket int, prefix string, files int, rows bigint, "
                "routed boolean",
            )
        if proc == "auto_split":
            # r10: the service form — split every over-target bucket,
            # hottest first, until the layout is healthy (the policy
            # `run_auto_split` applies during inline ingest services)
            from onehouse_demos_spark.tables.maintenance import (
                run_auto_split,
            )

            m = arg("max_bucket_rows")
            done = run_auto_split(t, int(m) if m is not None else None)
            t.register_view(name)
            return self.spark.createDataFrame(
                [
                    (
                        len(done),
                        len(t._bucket_prefix_list()),
                    )
                ],
                "splits int, buckets int",
            )
        if proc == "auto_resize":
            # r11: the modulo engine's layout-health service — the
            # `run_auto_split` counterpart for tables that grow by
            # re-bucketing (manifest-arithmetic trigger, one atomic
            # replacecommit when over target)
            from onehouse_demos_spark.tables.maintenance import (
                run_auto_resize,
            )

            m = arg("max_bucket_rows")
            before = t.config.bucket_index_buckets or 0
            done = run_auto_resize(t, int(m) if m is not None else None)
            t.register_view(name)
            return self.spark.createDataFrame(
                [
                    (
                        len(done),
                        before,
                        t.config.bucket_index_buckets or 0,
                    )
                ],
                "resizes int, buckets_before int, buckets_after int",
            )
        if proc == "resize_buckets":
            # r9: re-bucket a bucket-layout table (Hudi consistent-
            # hashing resize analog, one atomic replacecommit rewrite)
            from onehouse_demos_spark.tables.maintenance import (
                resize_buckets,
            )

            done = resize_buckets(t, int(req("buckets", "1")))
            t.register_view(name)
            return self.spark.createDataFrame(
                [
                    (
                        done.instant if done is not None else "",
                        t.config.bucket_index_buckets,
                    )
                ],
                "instant string, buckets int",
            )
        if proc == "xtable_sync":
            # one-command multi-format conversion — the reference runs
            # `java -jar xtable-utilities --datasetConfig xtable_hudi.
            # yaml` with targets DELTA,ICEBERG (demo.md:81-88,
            # xtable/xtable_hudi.yaml); here each target personality is
            # (re)synced in place over the same files.
            fmts = [
                f.strip().lower()
                for f in (arg("formats", default="delta,iceberg") or "").split(",")
                if f.strip()
            ]
            rows = []
            for fmt in fmts:
                if fmt == "delta":
                    from onehouse_demos_spark.tables.delta_export import (
                        sync_delta_log,
                    )

                    rows.append(("delta", sync_delta_log(t)))
                elif fmt == "iceberg":
                    from onehouse_demos_spark.tables.iceberg_export import (
                        sync_iceberg_metadata,
                    )

                    rows.append(("iceberg", sync_iceberg_metadata(t)))
                elif fmt == "hudi":
                    from onehouse_demos_spark.tables.hudi_export import (
                        sync_hudi_metadata,
                    )

                    # MOR freshness (README.md:756-776), two modes
                    # (r10): 'compact' (default) folds logs through
                    # the engine's compaction; 'rt' publishes them as
                    # real HoodieLogFormat blocks under deltacommits —
                    # no rewrite, a genuine `_rt` personality.
                    hudi_mode = (
                        arg("hudi_mode", default="compact") or "compact"
                    ).lower()
                    if hudi_mode not in ("compact", "rt"):
                        raise ValueError(
                            f"xtable_sync: hudi_mode {hudi_mode!r}; "
                            "one of: compact, rt"
                        )
                    # r11: hudi_column_stats => true publishes the
                    # column_stats metadata partition alongside files
                    cs_arg = str(
                        arg("hudi_column_stats", default="false") or "false"
                    ).lower() in ("true", "1", "yes")
                    bf_arg = str(
                        arg("hudi_bloom_filters", default="false")
                        or "false"
                    ).lower() in ("true", "1", "yes")
                    # r11: hudi_record_index => true publishes the
                    # record-level index partition (sharded type-5
                    # chains; exact point-read planning)
                    rli_arg = str(
                        arg("hudi_record_index", default="false")
                        or "false"
                    ).lower() in ("true", "1", "yes")
                    rows.append(
                        (
                            "hudi",
                            sync_hudi_metadata(
                                t,
                                compact_mor=hudi_mode == "compact",
                                mor_rt=hudi_mode == "rt",
                                column_stats=cs_arg,
                                bloom_filters=bf_arg,
                                record_index=rli_arg,
                            ),
                        )
                    )
                else:
                    raise ValueError(
                        f"xtable_sync: unsupported target format {fmt!r}"
                    )
            return self.spark.createDataFrame(
                rows, "format string, version int"
            )
        if proc == "show_fsview_all":
            # Hudi CLI/procedure `show_fsview_all`: the file-system
            # view — one row per live file slice with partition, kind
            # (base/log) and row count, straight from the manifest
            rows = [
                (f.partition or "", f.path, f.kind, f.rows)
                for f in t.manifest.live_files()
            ]
            return self.spark.createDataFrame(
                rows or [],
                "partition string, path string, kind string, rows bigint",
            )
        if proc == "show_table_properties":
            cfg = t.config
            props = [
                ("name", cfg.name),
                ("type", cfg.table_type),
                ("primaryKey", ",".join(cfg.record_key)),
                ("preCombineField", cfg.precombine or ""),
                ("partitionFields", ",".join(cfg.partition_by or [])),
                ("recordIndex", str(cfg.record_index).lower()),
                ("secondaryIndexes", ",".join(cfg.secondary_indexes or [])),
                ("payload", cfg.payload),
                ("bucketIndexBuckets", str(cfg.bucket_index_buckets or "")),
                ("bucketIndexEngine", cfg.bucket_engine),
                ("location", t.base_path),
            ]
            return self.spark.createDataFrame(
                props, "key string, value string"
            )
        if proc in ("rollback_to_savepoint", "rollback_to_instant"):
            from onehouse_demos_spark.tables.maintenance import run_restore

            res = run_restore(t, req("commit_time", "instant", "instant_time"))
            t.register_view(name)
            return self.spark.createDataFrame(
                [(res["restored_to"], len(res["removed_instants"]),
                  len(res["deleted_files"]))],
                "restored_to string, removed_instants int, deleted_files int",
            )
        raise ValueError(
            f"unknown procedure {proc!r}; supported: register_table, "
            "show_commits, show_compactions, show_clustering, show_fsview_all, "
            "show_table_properties, run_compaction, run_clustering, "
            "run_clean, resize_buckets, split_bucket, auto_split, "
            "auto_resize, "
            "show_bucket_layout, show_indexes, "
            "compact_record_index, "
            "archive_commits, create_savepoint, "
            "show_savepoints, delete_savepoint, rollback_to_savepoint, "
            "rollback_to_instant, xtable_sync, hudi_clean, hudi_index"
        )

    def _register_table(self, table: str, metadata_file: str) -> DataFrame:
        """Iceberg-style registration: point the catalog at an existing
        metadata.json (reference demo.md:225). The personality's
        metadata tree is replayed on every view refresh; the engine
        never takes ownership of the files."""
        name = self._norm(table)
        if name in self._tables or name in self._external:
            raise ValueError(f"table {name} already exists")
        if not os.path.exists(metadata_file):
            raise FileNotFoundError(metadata_file)
        base = os.path.dirname(os.path.dirname(os.path.abspath(metadata_file)))
        self._external[name] = ("iceberg", base)
        try:
            df = self._external_df(name)  # validate the metadata walk
        except Exception:
            del self._external[name]
            raise
        self._persist_external()
        df.createOrReplaceTempView(name)
        return self.spark.createDataFrame(
            [(name, "iceberg", base)],
            "tableName string, format string, location string",
        )

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
        re-runnable in a fresh warehouse. For existing locations and
        external formats, data-definition clauses are rejected: the
        table already exists on disk."""
        name = self._norm(m.group("name"))
        fmt = (m.group("format") or "parquet").lower()
        loc = m.group("location").rstrip("/")
        if name in self._tables or name in self._external:
            raise ValueError(f"table {name} already exists")
        exists = os.path.exists(os.path.join(loc, "table_config.json"))
        if (
            fmt == "hudi"
            and not exists
            and os.path.isdir(os.path.join(loc, ".hoodie"))
            and (m.group("cols") or m.group("props"))
            and not m.group("ctas")
        ):
            # A GENUINE Hudi table lives here (`.hoodie`, no engine
            # config): creating a managed table would write engine
            # metadata inside the foreign table directory (ADVICE r9).
            # Data-definition clauses are rejected like any
            # already-exists location; the no-cols form attaches it.
            raise ValueError(
                f"location {loc} already holds a Hudi table (.hoodie "
                "present); drop the column list / TBLPROPERTIES to "
                f"register it: CREATE TABLE {name} USING hudi "
                f"LOCATION '{loc}'"
            )
        if (
            fmt in ("lakehouse", "oh", "hudi")
            and not exists
            and (m.group("cols") or m.group("props"))
            and not m.group("ctas")
        ):
            props = self._parse_props(m.group("props"))
            parts = [
                strip_ident_quotes(p.strip().split()[0])
                for p in _split_top_level(m.group("parts") or "")
                if p.strip()
            ]
            cfg = self._config_from_props(name, props, parts)
            t = LakehouseTable.create(self.spark, loc, cfg)
            self._tables[name] = t
            self._attached[name] = t.base_path
            self._persist_external()
            if m.group("cols"):
                from pyspark.sql.types import StructType

                schema = StructType.fromDDL(m.group("cols"))
                t.insert(self.spark.createDataFrame([], schema))
            t.register_view(name)
            return self.spark.createDataFrame(
                [(name, cfg.table_type, loc)],
                "tableName string, format string, location string",
            )
        if (
            fmt in ("lakehouse", "oh", "hudi")
            and exists
            and (m.group("cols") or m.group("props"))
            and not m.group("ctas")
        ):
            # Replaying a SHOW CREATE statement over the live location:
            # attach the existing table, but refuse a DDL that claims a
            # DIFFERENT identity than what's on disk.
            props = self._parse_props(m.group("props"))
            t = LakehouseTable.load(self.spark, loc)
            declared_rk = [
                k.strip()
                for k in props.get("primarykey", "").split(",")
                if k.strip()
            ]
            if declared_rk and declared_rk != t.config.record_key:
                raise ValueError(
                    f"primaryKey {declared_rk} does not match the "
                    f"table at {loc} ({t.config.record_key})"
                )
            self._tables[name] = t
            self._attached[name] = t.base_path
            self._quarantined.pop(name, None)
            self._persist_external()
            t.register_view(name)
            return self.spark.createDataFrame(
                [(name, t.config.table_type, loc)],
                "tableName string, format string, location string",
            )
        if m.group("ctas") or m.group("cols") or m.group("props"):
            raise ValueError(
                "CREATE TABLE ... LOCATION registers an existing table; "
                "column lists, TBLPROPERTIES and CTAS are not supported"
            )
        if fmt == "hudi" and not exists and os.path.isdir(
            os.path.join(loc, ".hoodie")
        ):
            # a GENUINE Hudi table (e.g. the reference's committed
            # hudi_dimCustomer fixture): register as an external
            # timeline-replayed personality, like delta/iceberg
            fmt = "hudi-external"
        if fmt in ("lakehouse", "oh", "hudi"):
            t = LakehouseTable.load(self.spark, loc)
            self._tables[name] = t
            # persisted like the other register-by-location formats:
            # the attach survives an engine restart (ADVICE r4)
            self._attached[name] = t.base_path
            self._quarantined.pop(name, None)  # attach healed
            self._persist_external()
            t.register_view(name)
            kind = t.config.table_type
        elif fmt == "hudi-external":
            self._external[name] = ("hudi", loc)
            try:
                df = self._external_df(name)
            except Exception:
                del self._external[name]
                raise
            self._persist_external()
            df.createOrReplaceTempView(name)
            # MERGE_ON_READ personalities get the reference's
            # hive-sync `_ro`/`_rt` pair (README.md:343-344)
            self._register_hudi_mor_pair(name)
            kind = "external-hudi"
        elif fmt in ("delta", "iceberg", "parquet"):
            self._external[name] = (fmt, loc)
            try:
                df = self._external_df(name)  # validate before persisting
            except Exception:
                del self._external[name]
                raise
            self._persist_external()
            df.createOrReplaceTempView(name)
            kind = f"external-{fmt}"
        else:
            raise ValueError(f"unsupported LOCATION format {fmt!r}")
        return self.spark.createDataFrame(
            [(name, kind, loc)],
            "tableName string, format string, location string",
        )

    # -- statement handlers ---------------------------------------------------

    @staticmethod
    def _parse_props(props: str | None) -> dict[str, str]:
        out: dict[str, str] = {}
        if not props:
            return out
        for kv in _split_top_level(props):
            split = split_once_top_level(kv, "=")
            if split is not None:
                k, v = split
                v = v.strip()
                if len(v) >= 2 and v[0] == v[-1] and v[0] in "'\"":
                    # SQL-standard doubled-quote escape inside the
                    # literal ('it''s' → it's) — SHOW CREATE TABLE
                    # emits this form, so CREATE must read it back.
                    v = v[1:-1].replace(v[0] * 2, v[0])
                out[k.strip().strip("'\"").lower()] = v
        return out

    @staticmethod
    def _config_from_props(
        name: str, props: dict[str, str], parts: list[str]
    ) -> TableConfig:
        return TableConfig(
            name=name,
            record_key=[
                k.strip()
                for k in props.get("primarykey", "").split(",")
                if k.strip()
            ],
            precombine=props.get("precombinefield") or None,
            partition_by=parts,
            # SQL expr → partition path (expr-partitioned tables);
            # surfaced here so SHOW CREATE TABLE output is re-runnable.
            partition_expr=props.get("partitionexpr") or None,
            table_type=props.get("type", "cow"),
            index_scope=props.get("indexscope", "partition"),
            soft_delete_col=props.get("softdeletecol") or None,
            target_file_rows=(
                int(props["targetfilerows"])
                if props.get("targetfilerows")
                else TableConfig.target_file_rows
            ),
            expression_indexes=[
                e.strip()
                for e in props.get("expressionindexes", "").split(";")
                if e.strip()
            ],
            # Hudi `hoodie.metadata.record.index.enable` analog.
            record_index=props.get("recordindex", "").lower()
            in ("true", "1"),
            # Hudi 1.0 secondary-index analog: comma-separated columns.
            secondary_indexes=[
                c.strip()
                for c in props.get("secondaryindexes", "").split(",")
                if c.strip()
            ],
            # Hudi payload-class analog (overwrite | partial_update).
            payload=props.get("payload", "overwrite"),
            # Hudi `hoodie.index.type=BUCKET` +
            # `hoodie.bucket.index.num.buckets` analog: probe-free
            # hash routing of keys to a fixed per-partition bucket set.
            bucket_index_buckets=(
                int(props["bucketindexbuckets"])
                if props.get("bucketindexbuckets")
                else None
            ),
            # r9: "modulo" (fixed count) | "consistent" (prefix-range
            # buckets; hot buckets split in O(bucket) via
            # CALL split_bucket)
            bucket_engine=props.get("bucketindexengine", "modulo"),
            # Hudi hoodie.precommit.validators analog. Formats mirror
            # Hudi's: ';'-separated SQL with <TABLE> placeholders;
            # single-result entries are 'query#expected'.
            pre_commit_validators=_validators_from_props(props),
        )

    def _create(self, m: re.Match) -> DataFrame:
        name = self._norm(m.group("name"))
        props = self._parse_props(m.group("props"))
        parts = [
            strip_ident_quotes(p.strip().split()[0])
            for p in _split_top_level(m.group("parts") or "")
            if p.strip()
        ]
        cfg = self._config_from_props(name, props, parts)
        df = None
        if m.group("ctas"):
            self.register_views()
            df = self.spark.sql(m.group("ctas"))
        elif m.group("cols"):
            # declared schema, empty table: realize the schema through
            # Spark SQL's own DDL parser
            from pyspark.sql.types import StructType

            schema = StructType.fromDDL(m.group("cols"))
            df = self.spark.createDataFrame([], schema)
            self.create_table(name, cfg, df=None)
            # record schema via an empty insert so readers know it
            self._tables[name].insert(df)
            return self.spark.createDataFrame([], "result string")
        self.create_table(name, cfg, df=df)
        return self.spark.createDataFrame([], "result string")

    def _insert(self, m: re.Match) -> DataFrame:
        name = self._norm(m.group("name"))
        t = self._tables[name]
        self.register_views()
        body = m.group("body")
        cols = m.group("cols")
        if body.upper().startswith("VALUES"):
            df = self.spark.sql(f"SELECT * FROM ( {body} )")
            target_cols = (
                [strip_ident_quotes(c.strip()) for c in _split_top_level(cols)]
                if cols
                else [f.name for f in self._data_schema(t)]
            )
            df = df.toDF(*target_cols)
        else:
            df = self.spark.sql(body)
            if cols:
                df = df.toDF(*[
                    strip_ident_quotes(c.strip())
                    for c in _split_top_level(cols)
                ])
        df = self._align(t, df)
        if m.group("mode").upper() == "OVERWRITE":
            t.insert_overwrite(df)
        else:
            t.insert(df)
        return self.spark.createDataFrame([], "result string")

    def _data_schema(self, t: LakehouseTable):
        from onehouse_demos_spark.tables.table import META_COLS, PP_COL

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

    def _pruned_dml_read(
        self, t: LakehouseTable, where: str | None, stmt: str
    ) -> DataFrame:
        """Index/stats-routed snapshot for UPDATE/DELETE (reference
        M4/M5 point-mutation shape): WHERE conjuncts that pin the FULL
        record key by equality become a record-index point probe —
        the same key→file metadata lookup the DataFrame upsert/delete
        path uses, so a point statement opens only the files that hold
        the keys instead of scanning the table. Other prunable
        conjuncts route through snapshot_filtered (secondary/expression
        index + min/max stats skipping). The caller re-applies the full
        WHERE row-level in every case; an unextractable WHERE degrades
        to the full snapshot — never corrupts. Diagnostics land in
        ``self.last_dml_probe``."""
        self.last_dml_probe = {
            "stmt": stmt,
            "table": t.config.name,
            "mode": "full",
        }
        if not where:
            return t.snapshot()
        filters = _prunable_filters(where)
        if not filters:
            return t.snapshot()
        rk = t.config.record_key
        eq: dict[str, list] = {}
        for col, op, val in filters:
            if op == "=":
                eq.setdefault(col, []).append(val)
            elif op == "in" and len(rk) == 1 and col == rk[0]:
                eq.setdefault(col, []).extend(val)
        covered = rk and all(k in eq for k in rk)
        single_valued = all(len(eq[k]) == 1 for k in rk[1:] if k in eq)
        if covered and (len(rk) == 1 or single_valued):
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
            # type, so a coercing literal (5.0 on a BIGINT key,
            # numeric on a STRING key) would probe a value the index
            # never stored and silently skip rows the full-snapshot
            # path would mutate. Coerce each literal to its column's
            # exact type where provably lossless; any other mismatch
            # disables the point probe (degrade, never corrupt).
            tgt_types = {f.name: f.dataType for f in self._data_schema(t)}
            fields, coerced_rows = [], [list(r) for r in rows]
            ok = True
            for ci, c in enumerate(cols):
                dt = tgt_types.get(c)
                if dt is None:
                    ok = False
                    break
                fields.append(T.StructField(c, dt, True))
                for r in coerced_rows:
                    got = _losslessly_typed(r[ci], dt)
                    if got is _NO_COERCE:
                        ok = False
                        break
                    r[ci] = got
                if not ok:
                    break
            keys_df = None
            if ok:
                try:
                    keys_df = self.spark.createDataFrame(
                        [tuple(r) for r in coerced_rows],
                        T.StructType(fields),
                    )
                except Exception:
                    keys_df = None
            if keys_df is not None:
                df = t.snapshot_for_keys(keys_df)
                probe = getattr(t, "last_key_read_probe", None) or {}
                self.last_dml_probe.update(probe)
                self.last_dml_probe["mode"] = "keys-" + probe.get(
                    "mode", "?"
                )
                return df
        df = t.snapshot_filtered(filters)
        self.last_dml_probe["mode"] = "filtered"
        return df

    def _update(self, m: re.Match) -> DataFrame:
        name = self._norm(m.group("name"))
        t = self._tables[name]
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
        return self.spark.createDataFrame([], "result string")

    def _alter_props(self, m: re.Match) -> DataFrame:
        """ALTER TABLE t SET TBLPROPERTIES (...): MUTABLE properties
        only — the merge payload, pre-commit validator SQL, and the
        small-file sizing target. Identity-defining properties
        (primaryKey, type, partition fields, index layout, scope) are
        fixed at create; changing them would silently invalidate the
        on-disk layout, so they are rejected loudly instead."""
        name = self._norm(m.group("name"))
        t = self._tables[name]
        props = self._parse_props(m.group("props"))
        # Two phases so a bad property leaves NO session state behind:
        # validate every entry into staged thunks first, then apply
        # all of them and persist once. (A mid-loop raise used to
        # leave earlier properties active in-memory while nothing was
        # written to table_config.json.)
        staged: list = []
        changed: list[tuple[str, str]] = []
        for k, v in props.items():
            if k == "payload":
                if v not in ("overwrite", "partial_update"):
                    raise ValueError(f"unknown payload {v!r}")
                staged.append(
                    lambda v=v: setattr(t.config, "payload", v)
                )
            elif k == "targetfilerows":
                rows = int(v)
                staged.append(
                    lambda rows=rows: setattr(
                        t.config, "target_file_rows", rows
                    )
                )
            elif k in _VALIDATOR_PROP_TYPES:
                typ = _VALIDATOR_PROP_TYPES[k]
                new = _validators_from_props({k: v})

                def _apply(typ=typ, new=new):
                    keep = [
                        x
                        for x in t.config.pre_commit_validators
                        if x.get("type") != typ
                    ]
                    t.config.pre_commit_validators = keep + new

                staged.append(_apply)
            else:
                raise ValueError(
                    f"table property {k!r} is immutable or unknown; "
                    "mutable: payload, targetFileRows, "
                    "preCommitEqualitySql, preCommitInequalitySql, "
                    "preCommitSingleResultSql"
                )
            changed.append((k, v))
        for apply_one in staged:
            apply_one()
        t._rewrite_config()
        return self.spark.createDataFrame(
            changed, "property string, value string"
        )

    def _show_create(self, name: str) -> DataFrame:
        """SHOW CREATE TABLE: a re-runnable DDL statement reconstructed
        from the persisted table config + latest schema."""
        from onehouse_demos_spark.tables.table import META_COLS, PP_COL

        t = self._tables[name]
        cfg = t.config
        schema = t._latest_schema()
        hidden = set(META_COLS) | {PP_COL}
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString().upper()}"
            for f in (schema.fields if schema is not None else [])
            if f.name not in hidden
        )
        props = [("primaryKey", ",".join(cfg.record_key))]
        if cfg.precombine:
            props.append(("preCombineField", cfg.precombine))
        if cfg.table_type != "cow":
            props.append(("type", cfg.table_type))
        if cfg.payload != "overwrite":
            props.append(("payload", cfg.payload))
        if cfg.record_index:
            props.append(("recordIndex", "true"))
        if cfg.secondary_indexes:
            props.append(
                ("secondaryIndexes", ",".join(cfg.secondary_indexes))
            )
        if cfg.expression_indexes:
            props.append(
                ("expressionIndexes", ";".join(cfg.expression_indexes))
            )
        if cfg.bucket_index_buckets:
            props.append(
                ("bucketIndexBuckets", str(cfg.bucket_index_buckets))
            )
        if cfg.bucket_engine != "modulo":
            props.append(("bucketIndexEngine", cfg.bucket_engine))
        if cfg.partition_expr:
            props.append(("partitionExpr", cfg.partition_expr))
        if cfg.index_scope != "partition":
            props.append(("indexScope", cfg.index_scope))
        if cfg.soft_delete_col:
            props.append(("softDeleteCol", cfg.soft_delete_col))
        if cfg.target_file_rows != TableConfig.target_file_rows:
            props.append(("targetFileRows", str(cfg.target_file_rows)))
        # Validators serialize back to the same TBLPROPERTIES formats
        # the CREATE parser reads (';'-joined; single_result as
        # 'query#expected'), keeping the statement round-trippable.
        val_props: dict[str, list[str]] = {}
        for v in cfg.pre_commit_validators:
            typ = v.get("type")
            key = {
                "equality": "preCommitEqualitySql",
                "inequality": "preCommitInequalitySql",
                "single_result": "preCommitSingleResultSql",
            }.get(typ)
            if key is None:
                continue
            q = v["query"]
            if typ == "single_result":
                q = f"{q}#{v.get('expected')}"
            val_props.setdefault(key, []).append(q)
        for key, qs in val_props.items():
            props.append((key, ";".join(qs)))
        stmt = f"CREATE TABLE {name}"
        if cols:
            stmt += f" ({cols})"
        stmt += " USING lakehouse"
        if cfg.partition_by:
            stmt += f" PARTITIONED BY ({', '.join(cfg.partition_by)})"
        stmt += " TBLPROPERTIES (" + ", ".join(
            "{}='{}'".format(k, str(v).replace("'", "''"))
            for k, v in props
        ) + ")"
        stmt += f" LOCATION '{t.base_path}'"
        return self.spark.createDataFrame([(stmt,)], "createtab_stmt string")

    def _alter_add(self, m: re.Match) -> DataFrame:
        """ALTER TABLE t ADD COLUMNS (a INT, b STRING ...): a
        metadata-only schema-evolution commit on the managed table,
        then refresh the SQL view so subsequent queries see the new
        (NULL-filled for old files) columns."""
        name = self._norm(m.group("name"))
        t = self._tables[name]
        adds: list[tuple[str, str]] = []
        for part in _split_top_level(m.group("cols")):
            bits = part.strip().split(None, 1)
            if len(bits) != 2:
                raise ValueError(f"bad ADD COLUMNS entry: {part!r}")
            adds.append((strip_ident_quotes(bits[0]), bits[1].strip()))
        t.evolve_schema(adds)
        t.register_view(name)
        return self.spark.createDataFrame(
            [(c,) for c, _ in adds], "added_column string"
        )

    def _delete(self, m: re.Match) -> DataFrame:
        name = self._norm(m.group("name"))
        t = self._tables[name]
        where = m.group("where")
        if where:
            validate_expression(where, "DELETE WHERE condition")
        snap = self._pruned_dml_read(t, where, "delete")
        doomed = snap.filter(F.expr(where)) if where else snap
        keep = t.config.record_key + [
            c for c in t.config.partition_by if c in snap.columns
        ]
        t.delete(doomed.select(*dict.fromkeys(keep)))
        return self.spark.createDataFrame([], "result string")

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

    def _register_merge_target(
        self,
        t: LakehouseTable,
        target_name: str,
        talias: str,
        salias: str,
        src_sql: str,
        on_cond: str,
        prunable: bool,
    ) -> None:
        """Register `__merge_target_<name>`: the record-index-pruned
        point read when the MERGE shape allows it (key-equality ON, no
        NOT MATCHED BY SOURCE clause — those need the target-only
        rows), else the full snapshot. Sound because the pruned frame
        holds EVERY target row whose key appears in the source (the
        probe file set is a superset per key), so matched-row detection
        and all MATCHED/NOT MATCHED populations are unchanged."""
        self.last_dml_probe = {
            "stmt": "merge",
            "table": t.config.name,
            "mode": "full",
        }
        target_df = None
        if prunable:
            keys_df = self._merge_source_keys(
                t, talias, salias, src_sql, on_cond
            )
            if keys_df is not None:
                target_df = t.snapshot_for_keys(keys_df)
                probe = getattr(t, "last_key_read_probe", None) or {}
                self.last_dml_probe.update(probe)
                self.last_dml_probe["mode"] = "keys-" + probe.get(
                    "mode", "?"
                )
        if target_df is None:
            target_df = t.snapshot()
        target_df.createOrReplaceTempView(f"__merge_target_{target_name}")

    def _merge(self, m: re.Match) -> DataFrame:
        """MERGE = one joined frame annotated with the winning clause,
        split into an upsert batch and a delete batch. Single shuffle
        on the join condition; Catalyst plans the join itself."""
        target_name = self._norm(m.group("target"))
        t = self._tables[target_name]
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
        # target view can be the record-index-pruned point read
        # (_register_merge_target below).

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
        self._register_merge_target(
            t,
            target_name,
            talias,
            salias,
            src_sql,
            on_cond,
            prunable=not by_source_clauses,
        )
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
        return self.spark.createDataFrame([], "result string")
