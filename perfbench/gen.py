"""Seeded inputs for the benchmark's workloads.

Two generators, both pure functions of their arguments:

* ``write_fixture(out_dir, scale)`` writes the seven TPC-H-shaped parquet
  tables (``region`` .. ``lineitem``) in the layout the program's
  ``graft.sources.Tables`` loaders expect: one row group per file, naive
  microsecond timestamps. Shapes and value ranges follow the
  fixture description in FIXTURES.md. The tables use one fixed internal
  seed, so the oracle hashes pinned in ``expected.json`` stay valid; the
  benchmark's ``--seed`` varies the query order instead.

* ``lint_stream(seed, ...)`` builds a relational schema for the schema
  linter (tables, primary keys, single- and multi-column foreign keys,
  unique and plain indexes, and column names and types that make each of
  the five lint rules fire), a stream of small DDL batches, and for every
  cycle the set of issues the linter must report after that batch. The
  prediction is computed from this module's own model of the schema, not
  from the program.
"""
import random

FIXTURE_SEED = 42


def _rows(scale, per_sf, floor=1):
    return max(floor, int(round(per_sf * scale)))


def fixture_tables(scale):
    """The fixture tables as pyarrow Tables, keyed by name."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(FIXTURE_SEED)
    n_c, n_s, n_p = _rows(scale, 150_000), _rows(scale, 10_000), _rows(scale, 200_000)
    n_o = _rows(scale, 1_500_000)
    n_l = 4 * n_o

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")

    def pick(options, n, p=None):
        return np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)]

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_c),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_s)})
    adj = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_p),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": pick(["F", "O", "P"], n_o),
        "o_totalprice": money(1000, 500_000, n_o),
        "o_orderdate": days("1995-01-01", 2404, n_o),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
        "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_l),
        "l_linestatus": pick(["O", "F"], n_l),
        "l_shipdate": days("1995-01-02", 2498, n_l)})
    return t


def write_fixture(out_dir, scale):
    import os
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(scale).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


# ---------------------------------------------------------------- lint schema

RULE_TYPES = {
    1: "Query performance - missing index",
    2: "Normalization - Data integrity",
    3: "Data type - Precision error",
    4: "Data type mismatch",
    5: "Data Integrity - NULL values not allowed",
}
MONEY_WORDS = ("price", "amount", "total", "cost", "value", "balance", "rate")
EXPECTED_TYPE = {"rating": "FLOAT", "created_at": "DATETIME", "order_date": "DATETIME"}
NOT_NULL_NAMES = ("email", "price", "total_amount", "order_date", "rating")
ENTITIES = ("customer", "product", "order", "invoice", "vendor", "region", "store",
            "account", "shipment", "campaign", "ticket", "employee")

# column templates: name pattern ({e} = an entity) and the types it may take
# (type name as the catalog reports it, and its DDL spelling)
TEMPLATES = (
    ("email", (("VARCHAR", 100), ("VARCHAR", 255), ("VARCHAR", 320))),
    ("price", (("DECIMAL", None), ("DOUBLE", None), ("INTEGER", None))),
    ("total_amount", (("DECIMAL", None), ("DOUBLE", None), ("REAL", None))),
    ("order_date", (("DATE", None), ("TIMESTAMP", None))),
    ("created_at", (("TIMESTAMP", None), ("DATE", None))),
    ("rating", (("SMALLINT", None), ("DOUBLE", None), ("REAL", None))),
    ("{e}_name", (("VARCHAR", 80), ("VARCHAR", 255), ("VARCHAR", 400))),
    ("{e}_notes", (("VARCHAR", 255), ("VARCHAR", 1000), ("CLOB", None))),
    ("{e}_code", (("CHAR", 8), ("VARCHAR", 40))),
    ("{e}_cost", (("DECIMAL", None), ("DOUBLE", None))),
    ("{e}_balance", (("DECIMAL", None), ("REAL", None))),
    ("{e}_value", (("DOUBLE", None), ("DECIMAL", None))),
    ("{e}_rate", (("REAL", None), ("DECIMAL", None))),
    ("{e}_count", (("INTEGER", None), ("BIGINT", None))),
    ("{e}_flag", (("BOOLEAN", None),)),
    ("{e}_at", (("TIMESTAMP", None),)),
    ("{e}_ref_id", (("INTEGER", None), ("BIGINT", None))),
    ("id_{e}_legacy", (("INTEGER", None), ("VARCHAR", 255))),
)


def _ddl_type(tpe, length):
    if tpe == "DECIMAL":
        return "DECIMAL(12,2)"
    return f"{tpe}({length})" if length else tpe


class Column:
    def __init__(self, name, tpe, length, nullable):
        self.name, self.tpe, self.length, self.nullable = name, tpe, length, nullable


class Table:
    def __init__(self, name, composite):
        self.name = name
        self.cols = {}            # name -> Column, in DDL order
        self.pk = ["id", "seq_no"] if composite else ["id"]
        self.indexes = {}         # explicit index name -> (columns, unique)
        self.fks = {}             # constraint name -> (columns, referenced table)

    def indexed(self):
        """Columns covered by some index other than the primary key's: the
        explicit ones and the index backing each foreign key."""
        cols = {c for cs, _ in self.indexes.values() for c in cs}
        return cols | {c for cs, _ in self.fks.values() for c in cs}

    def unique(self):
        return {cs[0] for cs, u in self.indexes.values() if u and len(cs) == 1}

    def fk_first(self):
        return {cs[0] for cs, _ in self.fks.values()}


def issues(tables):
    """The linter's expected output as a set of (table, column, issue type)
    with names as the catalog reports them (upper case)."""
    out = set()
    for t in tables.values():
        indexed, unique, fk_first = t.indexed(), t.unique(), t.fk_first()
        for c in t.cols.values():
            n = c.name
            hits = []
            if (c.tpe == "VARCHAR" and c.length and c.length >= 255
                    and n not in unique and n not in indexed):
                hits.append(1)
            if ((n.endswith("id") or n.startswith("id")) and n not in t.pk
                    and n not in fk_first and n not in indexed):
                hits.append(2)
            if any(w in n for w in MONEY_WORDS) and c.tpe not in ("DECIMAL", "NUMERIC"):
                hits.append(3)
            if n in EXPECTED_TYPE and c.tpe != EXPECTED_TYPE[n]:
                hits.append(4)
            if n in NOT_NULL_NAMES and c.nullable:
                hits.append(5)
            out.update((t.name.upper(), n.upper(), RULE_TYPES[r]) for r in hits)
    return out


class LintStream:
    """A generated schema plus its DDL migration stream.

    ``schema`` holds the statements that create the base schema;
    ``batches[i]`` the statements of cycle ``i`` (cycle 0 is empty: the
    base schema itself); ``expected[i]`` the issue set after cycle ``i``;
    ``columns[i]`` the catalog's column count after cycle ``i``.
    """

    def __init__(self, seed, n_tables, cols_per_table, cycles, ops_per_cycle):
        self.rng = random.Random(seed)
        self.tables = {}
        self.serial = 0
        self.schema = self._base(n_tables, cols_per_table)
        self.batches, self.expected, self.columns = [[]], [issues(self.tables)], [self.n_columns()]
        for _ in range(cycles):
            self.batches.append([self._migration() for _ in range(ops_per_cycle)])
            self.expected.append(issues(self.tables))
            self.columns.append(self.n_columns())

    def n_columns(self):
        return sum(len(t.cols) for t in self.tables.values())

    def _next(self, prefix):
        self.serial += 1
        return f"{prefix}{self.serial}"

    def _new_column(self, t, nullable=None):
        rng = self.rng
        while True:
            pattern, types = rng.choice(TEMPLATES)
            name = pattern.format(e=rng.choice(ENTITIES))
            if name not in t.cols:
                break
        tpe, length = rng.choice(types)
        c = Column(name, tpe, length, rng.random() < 0.7 if nullable is None else nullable)
        t.cols[name] = c
        return c

    @staticmethod
    def _col_ddl(c):
        return f"{c.name} {_ddl_type(c.tpe, c.length)}" + ("" if c.nullable else " NOT NULL")

    def _base(self, n_tables, cols_per_table):
        rng, indexes, fks = self.rng, [], []
        for i in range(n_tables):
            t = Table(f"t{i:03d}_{rng.choice(ENTITIES)}", composite=rng.random() < 0.1)
            self.tables[t.name] = t
            for k in t.pk:
                t.cols[k] = Column(k, "INTEGER", None, False)
            for _ in range(cols_per_table - len(t.pk)):
                self._new_column(t)
        names = list(self.tables)
        for t in self.tables.values():
            # one to three foreign keys per table, some of them multi-column
            for _ in range(rng.randint(1, 3)):
                parent = self.tables[rng.choice(names)]
                if parent is t:
                    continue
                cols = [self._fk_column(t, parent.name, k) for k in parent.pk]
                if cols[0] is None or None in cols:
                    continue
                name = self._next("fk")
                t.fks[name] = (cols, parent.name)
                fks.append(f"ALTER TABLE {t.name} ADD CONSTRAINT {name} FOREIGN KEY "
                           f"({', '.join(cols)}) REFERENCES {parent.name} ({', '.join(parent.pk)})")
            for _ in range(rng.randint(0, 2)):
                stmt = self._add_index(t, unique=rng.random() < 0.4)
                if stmt:
                    indexes.append(stmt)
        tables = [f"CREATE TABLE {t.name} ("
                  + ", ".join([self._col_ddl(c) for c in t.cols.values()]
                              + [f"PRIMARY KEY ({', '.join(t.pk)})"]) + ")"
                  for t in self.tables.values()]
        return tables + indexes + fks

    def _fk_column(self, t, parent, key):
        name = f"{parent.split('_', 1)[1]}_{parent[:4]}_{key}"
        if name in t.cols:
            return None
        t.cols[name] = Column(name, "INTEGER", None, self.rng.random() < 0.5)
        return name

    def _free(self, t, pred=lambda c: True):
        """Columns no index, key or foreign key covers yet."""
        taken = t.indexed() | set(t.pk)
        return [c for c in t.cols.values() if c.name not in taken and pred(c)]

    def _add_index(self, t, unique=False):
        free = self._free(t, lambda c: c.tpe not in ("CLOB", "BOOLEAN"))
        if not free:
            return None
        cols = [self.rng.choice(free).name]
        if not unique and len(free) > 1 and self.rng.random() < 0.3:
            cols.append(self.rng.choice([c.name for c in free if c.name != cols[0]]))
        name = self._next("ix")
        t.indexes[name] = (cols, unique)
        kind = "UNIQUE INDEX" if unique else "INDEX"
        return f"CREATE {kind} {name} ON {t.name} ({', '.join(cols)})"

    def _migration(self):
        """One DDL statement that changes the catalog; retries until the
        chosen kind of change applies to the chosen table."""
        rng = self.rng
        names = list(self.tables)
        while True:
            t = self.tables[rng.choice(names)]
            kind = rng.choice(("add_column", "add_index", "drop_index", "add_fk", "nullability"))
            if kind == "add_column":
                c = self._new_column(t, nullable=True)
                return f"ALTER TABLE {t.name} ADD COLUMN {self._col_ddl(c)}"
            if kind == "add_index":
                stmt = self._add_index(t, unique=rng.random() < 0.3)
                if stmt:
                    return stmt
            elif kind == "drop_index":
                if t.indexes:
                    name = rng.choice(sorted(t.indexes))
                    del t.indexes[name]
                    return f"DROP INDEX {name}"
            elif kind == "add_fk":
                free = self._free(t, lambda c: c.tpe == "INTEGER")
                parents = [p for p in self.tables.values() if p.pk == ["id"] and p is not t]
                if free and parents:
                    col, parent = rng.choice(free).name, rng.choice(parents)
                    name = self._next("fk")
                    t.fks[name] = ([col], parent.name)
                    return (f"ALTER TABLE {t.name} ADD CONSTRAINT {name} FOREIGN KEY ({col}) "
                            f"REFERENCES {parent.name} (id)")
            else:
                cols = [c for c in t.cols.values() if c.name not in t.pk]
                if cols:
                    c = rng.choice(cols)
                    c.nullable = not c.nullable
                    return f"ALTER TABLE {t.name} ALTER COLUMN {c.name} {'NULL' if c.nullable else 'NOT NULL'}"
