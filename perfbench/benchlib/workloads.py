"""Seeded op sequences for the workloads, and the catalog_dml model.

Every workload is a closed loop with one client: the harness sends the next
op only after the previous one returned. A run is made of rounds; each
round holds the workload's fixed op multiset (in a seeded order for the
corpus workloads), so a run's sample count is fixed by its round count and
does not depend on the seed.
"""
import bisect
import os
import random

# The project's sf0.1 fixture tables (TESTDATA.md); the repository holds none.
SF_DIR = os.environ.get("GRAFT_BENCH_SF_DIR", "/root/testdata/sf0.1")

# Short relational and catalog-read corpus queries: the driver path
# (construction, analysis, planning, scheduling) dominates these.
GOVERNED_SQL = ["q5_join", "q6_filter", "q_catalog_scan", "q_view_catalog",
                "q_governance_rule"]

# LLM-curation corpus ops: dedup whose state is written to and re-read from
# disk (a bloom-filter incremental dedup and a retraction), and batch BM25
# retrieval.
CURATION_PIPELINE = ["q_dedup_retract", "q_dedup_bloom_incremental", "q_bm25_batch"]

# Rounds a run measures at least. A round's op count is odd and its ops'
# latencies are well separated (about 1.5x apart around the middle one), so
# the median falls among the repeats of one op rather than between two, and
# one slow execution does not move it.
MIN_ROUNDS = {"governed_sql": 6, "curation_pipeline": 6, "catalog_dml": 1}
# Warm-up rounds before measuring. After one pass the corpus ops still ran
# up to 2x slower in the first measured round (JIT and heap still settling);
# after two they are steady.
WARMUP_ROUNDS = {"governed_sql": 2, "curation_pipeline": 2}

CATALOG = "bench"
TABLE = f"{CATALOG}.main.li"
HISTORY = 8  # graft.history: retained snapshots beyond the current one
TRAVEL_BACK = 3  # a time-travel read targets the version this many commits back
COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate"]
NEW_KEYS = 1_000_000  # generated rows use order keys from here up

# One catalog_dml round, in order: a table owner's cycle of writes and
# reads, then maintenance. The seed picks keys, ranges and rows; the order
# is fixed, because read cost depends on whether deletion vectors are live,
# and a seeded order would make each round's latency mix differ.
# MERGE refuses while deletion vectors are live, so it follows the compaction.
DML_ROUND = ["insert", "point_read", "delete_point", "update", "agg_read",
             "insert", "delete_range", "time_travel", "point_read", "compact",
             "merge"]
# The warm-up runs every statement kind once, in the round's order.
DML_WARMUP = list(dict.fromkeys(DML_ROUND))


def corpus_ops(names, seed, rounds):
    rng = random.Random(seed)
    ops = []
    for r in range(rounds):
        order = list(names)
        rng.shuffle(order)
        ops += [{"id": len(ops) + i, "round": r, "kind": "corpus", "name": n}
                for i, n in enumerate(order)]
    return ops


class DmlModel:
    """What the catalog table must hold after each generated op: per order
    key the row count, non-null quantity count and quantity sum, plus the
    table totals of every committed version (for time travel)."""

    def __init__(self, base):
        # base: {orderkey: (rows, nonnull, qty_sum)} of the CTAS source
        self.keys = {k: list(v) for k, v in base.items()}
        self.sorted_keys = sorted(self.keys)
        self.totals = [0, 0, 0.0]
        for c, nn, q in self.keys.values():
            self.totals[0] += c
            self.totals[1] += nn
            self.totals[2] += q
        self.versions = [None, tuple(self.totals)]  # CTAS commits version 1
        self.next_key = NEW_KEYS
        self._live = None

    def _add(self, k, c, nn, q):
        self._live = None
        if k not in self.keys:
            self.keys[k] = [0, 0, 0.0]
            bisect.insort(self.sorted_keys, k)
        e = self.keys[k]
        e[0] += c
        e[1] += nn
        e[2] += q
        self.totals[0] += c
        self.totals[1] += nn
        self.totals[2] += q

    def commit(self):
        self.versions.append(tuple(self.totals))

    @property
    def version(self):
        return len(self.versions) - 1

    def live_keys(self):
        if self._live is None:
            self._live = [k for k in self.sorted_keys if self.keys[k][0] > 0]
        return self._live

    def keys_between(self, lo, hi):
        i = bisect.bisect_left(self.sorted_keys, lo)
        j = bisect.bisect_right(self.sorted_keys, hi)
        return self.sorted_keys[i:j]

    def insert(self, rows):
        for r in rows:
            self._add(r[0], 1, 1, r[4])
        self.commit()

    def delete(self, lo, hi):
        n = 0
        for k in self.keys_between(lo, hi):
            c, nn, q = self.keys[k]
            n += c
            self._add(k, -c, -nn, -q)
        self.commit()
        return n

    def update_add(self, lo, hi, d):
        n = 0
        for k in self.keys_between(lo, hi):
            c, nn, _ = self.keys[k]
            n += c
            self._add(k, 0, 0, nn * d)
        self.commit()
        return n

    def merge(self, rows):
        """MERGE ON l_orderkey: matched keys take the source quantity on
        every row, unmatched source rows are inserted."""
        n = 0
        for r in rows:
            k, q = r[0], r[4]
            c, nn, old = self.keys.get(k, (0, 0, 0.0))
            if c > 0:
                self._add(k, 0, c - nn, c * q - old)
                n += c
            else:
                self._add(k, 1, 1, q)
                n += 1
        self.commit()
        return n

    def point(self, k):
        c, nn, q = self.keys.get(k, (0, 0, 0.0))
        return c, q


def _row(rng, k, ln):
    q = float(rng.randint(1, 50))
    return (k, rng.randint(1, 20000), rng.randint(1, 1000), ln, q,
            round(q * rng.uniform(900, 2000), 2), rng.randint(0, 10) / 100,
            rng.randint(0, 8) / 100, rng.choice("ANR"), rng.choice("FO"),
            f"{rng.randint(1995, 2001)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}")


def _values(rows):
    return ", ".join(
        f"({k}L, {pk}L, {sk}L, {ln}, {q!r}D, {p!r}D, {d!r}D, {t!r}D, "
        f"'{rf}', '{ls}', TIMESTAMP '{sd} 00:00:00')"
        for k, pk, sk, ln, q, p, d, t, rf, ls, sd in rows)


class DmlGenerator:
    """Generates catalog_dml ops and, for every read, its expected result."""

    def __init__(self, seed, base):
        self.rng = random.Random(seed)
        self.model = DmlModel(base)
        self.changed_rows = {}  # op id -> rows the op changed

    def _new_rows(self, n_keys):
        rows = []
        for _ in range(n_keys):
            k = self.model.next_key
            self.model.next_key += 1
            rows += [_row(self.rng, k, ln) for ln in range(1, self.rng.randint(1, 4) + 1)]
        return rows

    def _live_range(self, width):
        live = self.model.live_keys()
        i = self.rng.randrange(0, max(1, len(live) - width))
        return live[i], live[min(len(live) - 1, i + width - 1)]

    def op(self, kind, oid, rnd):
        m, rng = self.model, self.rng
        o = {"id": oid, "round": rnd, "kind": "write", "name": kind}
        if kind == "insert":
            rows = self._new_rows(20)
            o["sql"] = f"INSERT INTO {TABLE} VALUES {_values(rows)}"
            m.insert(rows)
            self.changed_rows[oid] = len(rows)
        elif kind == "delete_point":
            k = rng.choice(m.live_keys())
            o["sql"] = f"DELETE FROM {TABLE} WHERE l_orderkey = {k}"
            self.changed_rows[oid] = m.delete(k, k)
        elif kind == "delete_range":
            lo, hi = self._live_range(40)
            o["sql"] = f"DELETE FROM {TABLE} WHERE l_orderkey BETWEEN {lo} AND {hi}"
            self.changed_rows[oid] = m.delete(lo, hi)
        elif kind == "update":
            lo, hi = self._live_range(40)
            o["sql"] = (f"UPDATE {TABLE} SET l_quantity = l_quantity + 1 "
                        f"WHERE l_orderkey BETWEEN {lo} AND {hi}")
            self.changed_rows[oid] = m.update_add(lo, hi, 1.0)
        elif kind == "compact":
            o["sql"] = f"CALL {CATALOG}.system.compact('main.li')"
            m.commit()
            self.changed_rows[oid] = 0
        elif kind == "merge":
            live = m.live_keys()
            hits = rng.sample(live, 10)
            rows = [_row(rng, k, 1) for k in hits]
            rows += [_row(rng, k, 1) for k in range(m.next_key, m.next_key + 10)]
            m.next_key += 10
            o["sql"] = (f"MERGE INTO {TABLE} t USING (SELECT * FROM VALUES "
                        f"{_values(rows)} AS s({', '.join(COLS)})) s "
                        "ON t.l_orderkey = s.l_orderkey "
                        "WHEN MATCHED THEN UPDATE SET t.l_quantity = s.l_quantity "
                        "WHEN NOT MATCHED THEN INSERT *")
            self.changed_rows[oid] = m.merge(rows)
        elif kind == "point_read":
            # live keys mostly, sometimes a deleted or never-seen key
            k = (rng.choice(m.live_keys()) if rng.random() < 0.8
                 else rng.randrange(0, m.next_key))
            o.update(kind="read", sql=(
                f"SELECT l_linenumber, l_quantity FROM {TABLE} WHERE l_orderkey = {k}"))
            c, q = m.point(k)
            o["expect"] = {"rows": c, "qty": q}
        elif kind == "agg_read":
            o.update(kind="read", sql=(
                f"SELECT count(*) AS n, sum(l_quantity) AS q FROM {TABLE}"))
            o["expect"] = {"count": m.totals[0], "qty": m.totals[2]}
        elif kind == "time_travel":
            # a fixed depth: the read's cost depends on how old the version is
            v = max(1, m.version - TRAVEL_BACK)
            o.update(kind="read", sql=(
                f"SELECT count(*) AS n, sum(l_quantity) AS q FROM {TABLE} "
                f"VERSION AS OF '{v}'"))
            c, _, q = m.versions[v]
            o["expect"] = {"count": c, "qty": q}
        else:
            raise ValueError(kind)
        return o

    def ops(self, kinds, rnd, first_id):
        return [self.op(k, first_id + i, rnd) for i, k in enumerate(kinds)]


def dml_setup_sql(warehouse, sf_dir):
    """Set-up statements: the catalog, history retention and the CTAS."""
    return [
        f"SET spark.sql.catalog.{CATALOG}=graft.catalog.GraftCatalog",
        f"SET spark.sql.catalog.{CATALOG}.dir={warehouse}",
        f"SET graft.history={HISTORY}",
        f"CREATE TABLE {TABLE} TBLPROPERTIES "
        "('snapshots'='true', 'deletion_vectors'='true') AS "
        f"SELECT /*+ REPARTITION_BY_RANGE(8, l_orderkey) */ {', '.join(COLS)} "
        "FROM graft.main.lineitem",
    ]


def check_read(op, rows):
    """Compares a read's collected rows with the model's expectation."""
    e = op["expect"]
    if "rows" in e:
        qty = sum(r[1] for r in rows if r[1] is not None)
        return len(rows) == e["rows"] and abs(qty - e["qty"]) < 1e-6
    (n, q), = rows
    return n == e["count"] and abs((q or 0.0) - e["qty"]) < 1e-6
