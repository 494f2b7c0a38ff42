"""Deterministic input generation for the benchmark's workloads.

Everything the program sees is built here from the workload seed; the
same seed gives the same inputs. Expected answers are computed here too,
without Spark, so the checks in `checks.py` compare the program's
outputs with independently derived values.
"""
import json
import os
import random

import numpy as np

# --------------------------------------------------------------- ingest

EVENTS_REQ_PER_S = 10.0     # x 1-500 items: about 2500 rows/s, horizontal flatten
CARTS_REQ_PER_S = 1.0       # x 1-250 carts of 1-3 lines: about 250 rows/s, vertical
DOC_RESEND_SHARE = 0.1      # share of docs items that are exact resends
EVOLVE_SHARE = 0.01         # share of events requests that add a new key
EVENT_KINDS = ["click", "view", "purchase", "signup", "search", "share", "error", "logout"]
OSES = ["android", "ios", "linux", "macos", "windows"]


def _pseudo_words(rng, n):
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randint(4, 9))) for _ in range(n)]


class IngestGen:
    """Request bodies for the three ingest tables. Item ids and event
    sequence numbers count up across every request made from one
    instance, so warm-up and measured requests never collide."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.nprng = np.random.default_rng(seed)
        self.vocab = _pseudo_words(self.rng, 20000)
        self.seq = self.cart_id = self.doc_id = self.new_key = 0
        self.sent_docs = []

    def request(self, table, n):
        rng = self.rng
        items, rows = [], 0
        if table == "events":
            evolve = rng.random() < EVOLVE_SHARE
            users = np.minimum(self.nprng.zipf(1.3, n), 100000)
            for i in range(n):
                self.seq += 1
                item = {"seq": self.seq, "user": f"u{users[i]}", "event": rng.choice(EVENT_KINDS),
                        "amount": round(rng.uniform(0.5, 500), 2) + 0.001,
                        "ts": f"2024-01-{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:"
                              f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}",
                        "device": {"os": rng.choice(OSES),
                                   "app": {"ver": f"{rng.randint(1, 9)}.{rng.randint(0, 20)}"}},
                        "geo": {"country": f"c{rng.randint(0, 40)}"}}
                if evolve:
                    item["ext"] = {f"f{self.new_key}": rng.randint(0, 1000)}
                items.append(item)
            self.new_key += evolve
            rows, flatten = n, "horizontal"
        elif table == "carts":
            for _ in range(max(1, n // 2)):
                self.cart_id += 1
                lines = [{"sku": f"s{rng.randint(0, 5000)}", "qty": rng.randint(1, 9),
                          "price": round(rng.uniform(1, 200), 2) + 0.001}
                         for _ in range(rng.randint(1, 3))]
                items.append({"cart_id": self.cart_id, "user": f"u{rng.randint(0, 20000)}",
                              "lines": lines})
                rows += len(lines)
            flatten = "vertical"
        else:
            for _ in range(n):
                if self.sent_docs and rng.random() < DOC_RESEND_SHARE:
                    items.append(rng.choice(self.sent_docs))  # exact resend: must be dropped
                    continue
                self.doc_id += 1
                doc = {"doc_id": self.doc_id,
                       "body": " ".join(rng.choice(self.vocab) for _ in range(rng.randint(30, 80)))}
                self.sent_docs.append(doc)
                items.append(doc)
            rows, flatten = len(items), "horizontal"
        body = json.dumps(items, separators=(",", ":")).encode()
        return {"table": table, "flatten": flatten, "body": body, "rows": rows,
                "items": len(items)}


def ingest_schedule(seed, seconds):
    """(warm-up requests, open-loop schedule). The warm-up carries the
    run's one `docs` request (minhash drop policy): a dedup load holds a
    worker for seconds, and under the stream it would set the latency
    tail by when it happened to land. Arrivals per table are a Poisson
    process given its count: rate x seconds requests at uniform random
    times, so every seed offers the same number of requests; each
    carries a `due` offset in seconds. Request sizes are a stratified
    draw from 1-500 (one uniform draw from each of n equal slices, in
    random order), so every seed offers the same spread of sizes and the
    latency percentiles do not move with the luck of the draw."""
    g = IngestGen(seed)
    warm = [g.request("docs", g.rng.randint(100, 300)), g.request("events", 200),
            g.request("carts", 100), g.request("events", 300), g.request("carts", 200)]
    arrivals = []
    for table, rate in (("events", EVENTS_REQ_PER_S), ("carts", CARTS_REQ_PER_S)):
        n = round(rate * seconds)
        sizes = [min(500, 1 + int((i + g.rng.random()) * 500 / n)) for i in range(n)]
        g.rng.shuffle(sizes)
        arrivals += [(g.rng.uniform(0, seconds), table, k) for k in sizes]
    return warm, [{"due": t, **g.request(table, k)} for t, table, k in sorted(arrivals)]


class IngestReader:
    """The dashboard mix the reader runs on the live `events` table while
    inserts stream in: aggregates, a top-N and a small NDJSON export."""

    def __init__(self, seed):
        self.rng = random.Random(seed * 31 + 7)

    def next(self):
        r = self.rng.random()
        if r < 0.3:
            return ("select event, count(*) as n, sum(amount) as s from events "
                    "group by event order by event", "json")
        if r < 0.55:
            return ("select user, count(*) as n from events group by user "
                    "order by n desc, user limit 10", "json")
        if r < 0.8:
            return (f"select device_os, count(*) as n from events where event = "
                    f"'{self.rng.choice(EVENT_KINDS)}' group by device_os order by device_os", "json")
        lo = self.rng.randint(1, 20000)
        return f"select * from events where seq between {lo} and {lo + 999}", "ndjson"


def ingest_expected(acked):
    """Rows each table must hold once every acknowledged request is
    loaded: events and carts one row per row sent, docs one row per
    distinct document (every exact resend dropped)."""
    exp = {"events": 0, "carts": 0, "docs": 0}
    docs = set()
    for r in acked:
        if r["table"] == "docs":
            docs.update(d["doc_id"] for d in json.loads(r["body"]))
        else:
            exp[r["table"]] += r["rows"]
    exp["docs"] = len(docs)
    return exp


# ------------------------------------------------------------ dashboard

DASH_EVENTS = 80000
DASH_USERS = 10000
DASH_BATCH_ROWS = 20000
DASH_DAYS = 30
COUNTRIES = [f"c{i:02d}" for i in range(20)]
PLANS = ["free", "pro", "team"]


class Dashboard:
    """The `events` and `users` tables of the dashboard workload, the
    query mix over them, and each query's expected answer."""

    def __init__(self, seed, n_events=DASH_EVENTS, n_users=DASH_USERS):
        rng = np.random.default_rng(seed)
        self.seed = seed
        self.n = n_events
        self.user_id = np.minimum(rng.zipf(1.2, n_events), n_users) - 1
        self.kind = rng.integers(0, len(EVENT_KINDS), n_events)
        self.cents = rng.integers(1, 50001, n_events)
        self.day = rng.integers(1, DASH_DAYS + 1, n_events)
        self.sec = rng.integers(0, 86400, n_events)
        self.os = rng.integers(0, len(OSES), n_events)
        self.u_country = rng.integers(0, len(COUNTRIES), n_users)
        self.u_plan = rng.integers(0, len(PLANS), n_users)
        self.n_users = n_users

    def event_line(self, i):
        s = int(self.sec[i])
        return (f'{{"event_id":{i},"user_id":{int(self.user_id[i])},'
                f'"kind":"{EVENT_KINDS[self.kind[i]]}","cents":{int(self.cents[i])},'
                f'"day":"{self.day_str(self.day[i])}",'
                f'"ts":"{self.day_str(self.day[i])}T{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}",'
                f'"os":"{OSES[self.os[i]]}"}}')

    @staticmethod
    def day_str(d):
        return f"2024-01-{int(d):02d}"

    def write_batches(self, out_dir, batch_rows=DASH_BATCH_ROWS):
        """NDJSON batch files, one directory per table, rotation-sized."""
        for table in ("events", "users"):
            os.makedirs(os.path.join(out_dir, table), exist_ok=True)
        for b, start in enumerate(range(0, self.n, batch_rows)):
            with open(os.path.join(out_dir, "events", f"{b:05d}.ndjson"), "w") as fh:
                fh.write("\n".join(self.event_line(i)
                                   for i in range(start, min(self.n, start + batch_rows))) + "\n")
        for b, start in enumerate(range(0, self.n_users, batch_rows)):
            with open(os.path.join(out_dir, "users", f"{b:05d}.ndjson"), "w") as fh:
                fh.write("\n".join(
                    f'{{"user_id":{u},"country":"{COUNTRIES[self.u_country[u]]}",'
                    f'"plan":"{PLANS[self.u_plan[u]]}"}}'
                    for u in range(start, min(self.n_users, start + batch_rows))) + "\n")

    # -- the query mix, in cycles of 20: 14 aggregates (one in five a
    # join), 3 point lookups, 3 exports of about 1, 3 and 6 MB, one in
    # each of json, ndjson and csv. Parameters and order vary by seed;
    # the proportions do not, so short runs see the same mix.
    AGGREGATES = ["by_kind", "by_country", "top_users", "daily_users", "by_os"]
    EXPORT_ROWS = [(9000, 15000), (20000, 30000), (40000, 60000)]

    def queries(self, cycles):
        rng = random.Random(self.seed * 7919 + 1)
        out = []
        for _ in range(cycles):
            cycle = []
            for j in range(14):
                t = self.AGGREGATES[j % len(self.AGGREGATES)]
                if t == "by_kind":
                    d1 = rng.randint(1, DASH_DAYS)
                    p = {"d1": d1, "d2": rng.randint(d1, DASH_DAYS)}
                elif t == "top_users":
                    p = {"d": rng.randint(1, DASH_DAYS)}
                elif t == "daily_users":
                    p = {"os": rng.randrange(len(OSES))}
                else:
                    p = {"k": rng.randrange(len(EVENT_KINDS))}
                cycle.append((t, p, "json"))
            cycle += [("point", {"id": rng.randrange(self.n)}, "json") for _ in range(3)]
            fmts = ["json", "ndjson", "csv"]
            rng.shuffle(fmts)
            for (lo, hi), fmt in zip(self.EXPORT_ROWS, fmts):
                rows = rng.randint(min(lo, self.n // 2), min(hi, self.n - 1))
                a = rng.randrange(self.n - rows)
                cycle.append(("export", {"a": a, "b": a + rows}, fmt))
            rng.shuffle(cycle)
            out += cycle
        return out

    def sql(self, q):
        t, p, _ = q
        cols = "event_id, user_id, kind, cents, day, ts, os"
        if t == "by_kind":
            return (f"select kind, count(*) as n, sum(cents) as c from events where day >= "
                    f"'{self.day_str(p['d1'])}' and day <= '{self.day_str(p['d2'])}' "
                    f"group by kind order by kind")
        if t == "by_country":
            return (f"select u.country, count(*) as n, sum(e.cents) as c from events e "
                    f"join users u on e.user_id = u.user_id where e.kind = "
                    f"'{EVENT_KINDS[p['k']]}' group by u.country order by u.country")
        if t == "top_users":
            return (f"select user_id, count(*) as n from events where day = "
                    f"'{self.day_str(p['d'])}' group by user_id order by n desc, user_id limit 10")
        if t == "daily_users":
            return (f"select day, count(distinct user_id) as u from events where os = "
                    f"'{OSES[p['os']]}' group by day order by day")
        if t == "by_os":
            return (f"select os, min(cents) as lo, max(cents) as hi, count(*) as n from events "
                    f"where kind = '{EVENT_KINDS[p['k']]}' group by os order by os")
        if t == "point":
            return f"select {cols} from events where event_id = {p['id']}"
        return f"select {cols} from events where event_id >= {p['a']} and event_id < {p['b']}"

    def expected(self, q):
        """The answer computed from the generated columns, no Spark."""
        t, p, _ = q
        if t == "by_kind":
            m = (self.day >= p["d1"]) & (self.day <= p["d2"])
            return [{"kind": k, "n": int(np.sum(m & (self.kind == i))),
                     "c": int(np.sum(self.cents[m & (self.kind == i)]))}
                    for k, i in sorted((k, i) for i, k in enumerate(EVENT_KINDS))
                    if np.any(m & (self.kind == i))]
        if t == "by_country":
            m = self.kind == p["k"]
            c = self.u_country[self.user_id[m]]
            n = np.bincount(c, minlength=len(COUNTRIES))
            s = np.bincount(c, weights=self.cents[m], minlength=len(COUNTRIES))
            return [{"country": COUNTRIES[i], "n": int(n[i]), "c": int(round(s[i]))}
                    for i in range(len(COUNTRIES)) if n[i]]
        if t == "top_users":
            n = np.bincount(self.user_id[self.day == p["d"]], minlength=self.n_users)
            top = sorted(((-int(n[u]), u) for u in np.nonzero(n)[0]))[:10]
            return [{"user_id": int(u), "n": -c} for c, u in top]
        if t == "daily_users":
            m = self.os == p["os"]
            return [{"day": self.day_str(d), "u": len(np.unique(self.user_id[m & (self.day == d)]))}
                    for d in range(1, DASH_DAYS + 1) if np.any(m & (self.day == d))]
        if t == "by_os":
            m = self.kind == p["k"]
            return [{"os": o, "lo": int(self.cents[m & (self.os == i)].min()),
                     "hi": int(self.cents[m & (self.os == i)].max()),
                     "n": int(np.sum(m & (self.os == i)))}
                    for o, i in sorted((o, i) for i, o in enumerate(OSES))
                    if np.any(m & (self.os == i))]
        if t == "point":
            return [json.loads(self.event_line(p["id"]))]
        sl = slice(p["a"], p["b"])
        return {"rows": p["b"] - p["a"], "sum_id": sum(range(p["a"], p["b"])),
                "sum_cents": int(self.cents[sl].sum()), "sum_user": int(self.user_id[sl].sum())}
