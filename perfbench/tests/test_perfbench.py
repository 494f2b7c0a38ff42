"""The benchmark's own tests: generator determinism, metric names, and
that every output check rejects a planted wrong answer.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import re
import sqlite3
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)
sys.path.insert(0, PKG)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(PKG), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def tree_digest(path):
    h = hashlib.sha256()
    for base, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            h.update(n.encode())
            with open(os.path.join(base, n), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorIsDeterministic(unittest.TestCase):
    def test_ingest_schedule(self):
        a, b, c = (gen.ingest_schedule(s, 3) for s in (5, 5, 6))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_dashboard_tables_and_mix(self):
        digests = []
        for seed in (5, 5, 6):
            d = gen.Dashboard(seed, n_events=3000, n_users=200)
            with tempfile.TemporaryDirectory() as tmp:
                d.write_batches(tmp, batch_rows=1000)
                digests.append((tree_digest(tmp), d.queries(2)))
        self.assertEqual(digests[0], digests[1])
        self.assertNotEqual(digests[0][0], digests[2][0])
        self.assertNotEqual(digests[0][1], digests[2][1])


class ExpectedAnswersMatchSql(unittest.TestCase):
    """The generator's numpy answers equal SQLite running the same SQL
    over the same generated rows."""

    def test_dashboard(self):
        d = gen.Dashboard(3, n_events=4000, n_users=300)
        db = sqlite3.connect(":memory:")
        db.execute("create table events (event_id, user_id, kind, cents, day, ts, os)")
        db.execute("create table users (user_id, country, plan)")
        with tempfile.TemporaryDirectory() as tmp:
            d.write_batches(tmp, batch_rows=1500)
            for table in ("events", "users"):
                for name in sorted(os.listdir(os.path.join(tmp, table))):
                    with open(os.path.join(tmp, table, name)) as fh:
                        for line in fh:
                            row = json.loads(line)
                            db.execute(f"insert into {table} ({','.join(row)}) values "
                                       f"({','.join('?' * len(row))})", list(row.values()))
        for q in d.queries(3):
            cur = db.execute(d.sql(q))
            cols = [c[0] for c in cur.description]
            rows = [dict(zip(cols, r)) for r in cur.fetchall()]
            if q[0] == "export":
                rows = {"rows": len(rows), "sum_id": sum(r["event_id"] for r in rows),
                        "sum_cents": sum(r["cents"] for r in rows),
                        "sum_user": sum(r["user_id"] for r in rows)}
            self.assertEqual(rows, d.expected(q), q)


class NamesMatchBenchmarkJson(unittest.TestCase):
    E2E = {m["name"] for m in SPEC["end_to_end"]}
    LAYER = {m["name"] for m in SPEC["per_layer"]}

    def fake(self):
        return {"latency_ms": [1.0, 2.0, 3.0], "setup_s": 1.0, "ops": 3, "window_s": 1.0,
                "cpu_s": 1.0, "peak_rss_mb": 1.0, "extra": {}, "stats": {}}

    def test_printed_names(self):
        self.assertEqual(set(run.end_to_end(self.fake())), self.E2E)
        self.assertEqual(set(run.per_layer(self.fake(), SPEC)), self.LAYER)

    def test_every_metric_name_in_the_code_is_declared(self):
        with open(os.path.join(PKG, "run.py")) as fh:
            src = fh.read()
        named = set(re.findall(r'"((?:api|ingest|sink|blob|queue|worker|loader|catalog|query|'
                               r'spark|jvm|trace)\.[a-z0-9_.]+)":', src))
        self.assertEqual(named - self.LAYER, set())

    def test_every_per_layer_metric_has_a_target(self):
        with open(os.path.join(PKG, "spec.json")) as fh:
            self.assertEqual(set(json.load(fh)["per_layer_targets"]), self.LAYER)


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        self.assertEqual(run.pct([4, 1, 3, 2], 50), 2)
        self.assertEqual(run.pct([1, 2, 3], 50), 2)
        self.assertEqual(run.pct(list(range(1, 11)), 90), 9)
        self.assertEqual(run.pct([5], 99), 5)


class ChecksRejectPlantedWrongAnswers(unittest.TestCase):
    def ingest_case(self):
        expected = {"events": 3, "carts": 2, "docs": 2}
        got = {"events": {"n": 3, "ids": 3, "seqs": 3, "seq_sum": 6},
               "carts": {"n": 2, "ids": 2},
               "docs": {"n": 2, "ids": 2, "bodies": 2, "doc_ids": 2}}
        return expected, got, [1, 2, 3]

    def test_ingest(self):
        e, g, s = self.ingest_case()
        self.assertEqual(checks.check_ingest(e, g, s), [])
        plants = [("events", "n", 4), ("carts", "ids", 1), ("docs", "n", 3),
                  ("docs", "bodies", 1), ("events", "seq_sum", 7)]
        for table, key, value in plants:
            e, g, s = self.ingest_case()
            g[table][key] = value
            self.assertNotEqual(checks.check_ingest(e, g, s), [], (table, key))

    def test_dashboard(self):
        d = gen.Dashboard(4, n_events=3000, n_users=200)
        for q in d.queries(1):
            want = d.expected(q)
            if q[0] == "export":
                rows = [json.loads(d.event_line(i)) for i in range(q[1]["a"], q[1]["b"])]
            else:
                rows = want
            body = encode(rows, q[2])
            self.assertEqual(checks.check_dashboard(q[0], want, body, q[2]), [], q)
            wrong = [dict(r) for r in rows]
            if wrong:
                key = next(k for k, v in wrong[-1].items() if isinstance(v, int))
                wrong[-1][key] += 1
            else:
                wrong = [{"n": 1}]
            self.assertNotEqual(checks.check_dashboard(q[0], want, encode(wrong, q[2]), q[2]),
                                [], q)
            if len(rows) > 1:
                self.assertNotEqual(
                    checks.check_dashboard(q[0], want, encode(rows[:-1], q[2]), q[2]), [], q)


def encode(rows, fmt):
    """Encode rows the way the server's json / ndjson / csv writers do."""
    if fmt == "json":
        return json.dumps(rows, separators=(",", ":")).encode()
    if fmt == "ndjson":
        return "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows).encode()
    cols = list(rows[0]) if rows else []
    lines = [",".join(cols)] + [",".join(str(r[c]) for c in cols) for r in rows]
    return ("\n".join(lines) + "\n").encode()


if __name__ == "__main__":
    unittest.main()
