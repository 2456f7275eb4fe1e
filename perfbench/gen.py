"""Seeded input generation for the three workloads.

Pure numpy/pyarrow: nothing here starts Spark, so the same seed gives
byte-identical inputs in any process, and the tests can check that
without a JVM.

Two kinds of randomness are kept apart:

- ``DATA_SEED`` fixes the tables (the TPC-H-like star schema, the
  ``documents`` corpus and the ``embeddings``). The corpus workload
  pins a digest of its published output, so its input must not move
  with ``--seed``.
- ``--seed`` drives everything a run varies: the simulated start day,
  fleet names and thresholds, which fires carry a fault, the order the
  corpus rows arrive in, and which relational queries the ad-hoc client
  serves, their order, and the query vectors.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass, field

import numpy as np

DATA_SEED = 42

#: Table scale. Row counts follow TPC-H proportions (lineitem ~ 6M x sf).
#: sf0.01 keeps one relational query near the per-query planning floor
#: (~0.4 s on 4 cores), which is the regime the ad-hoc workload probes;
#: a run must fit in the benchmark's per-run time budget.
SCALE = 0.01
N_DOCUMENTS = 500
N_EMBEDDINGS = 2000
EMBED_DIM = 64
N_CLUSTERS = 10
GROUP = 10
#: per-component noise of a group member and of a query vector around
#: its corpus row (cosine ~0.994 and ~0.999 to the source)
GROUP_NOISE = 0.01
QUERY_NOISE = 0.004

UTC = dt.timezone.utc


def _rng(*key: int | str) -> np.random.Generator:
    """Independent stream per key: a stable hash of the parts, so adding
    a new stream never shifts the values of an existing one."""
    h = hashlib.sha256("\x1f".join(map(str, key)).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


# ---------------------------------------------------------------------------
# dag_fleet: the six reference DAGs at home-lab fan-out
# ---------------------------------------------------------------------------

N_DNS_CLIENTS = 16
N_SPEED_DEVICES = 8
N_BACKUP_DEVICES = 4
N_FOLDERS = 4
N_IPS = 6
TICK = dt.timedelta(minutes=5)

#: pipeline -> (fault kind, tasks the fault must fail). The cron mix
#: fires 629 runs a simulated day, 341 of them in pipelines that can
#: carry a fault (Cloudflare-DDNS has no fault kind), so a per-fire
#: probability of 0.18 puts a fault on ~10% of all fires.
FAULTS = {
    "DNS-Requests": ("stale_client", frozenset({"check_requests"})),
    "Backups": ("paused_folder", frozenset({"paused_folders"})),
    "Speedtest": ("slow_link", frozenset({"speed_test"})),
    "Cloudflare-Apps": ("missing_dns_record", frozenset({"update_dns_records"})),
    "Airflow-Cleanup": ("disk_full", frozenset({"check_disk_usage"})),
}
FAULT_P = 0.18

#: the id -> DNS name mapping the Cloudflare-Apps DAG hard-codes
MAPPED_IP_IDS = {
    "racknerd": "vps.example.net",
    "iowa": "iowa.example.net",
    "chicago": "chicago.example.net",
}


@dataclass(frozen=True)
class Verdict:
    """Expected outcome of one fire."""

    status: str
    failed_tasks: frozenset
    failed_elements: frozenset = frozenset()
    fault: str | None = None


@dataclass
class FleetPlan:
    """Everything the fleet's fixtures and verdicts derive from."""

    seed: int
    start: dt.datetime
    dns_clients: list[str]
    speed_devices: list[str]
    speed_limits: dict[str, tuple[float, float]]
    backup_devices: list[str]
    folders: list[str]
    ips: list[tuple[str, str, str | None]]
    variables: dict[str, str] = field(default_factory=dict)

    def _minute(self, ts: dt.datetime) -> int:
        return int(ts.timestamp() // 60)

    def fault(self, pipeline: str, ts: dt.datetime) -> tuple[str, int] | None:
        """(fault kind, victim index) for this fire, or None."""
        if pipeline not in FAULTS:
            return None
        r = _rng(self.seed, "fault", pipeline, self._minute(ts))
        if r.random() >= FAULT_P:
            return None
        return FAULTS[pipeline][0], int(r.integers(0, 1 << 16))

    def verdict(self, pipeline: str, ts: dt.datetime) -> Verdict:
        f = self.fault(pipeline, ts)
        if f is None:
            return Verdict("success", frozenset())
        kind, victim = f
        elements = frozenset()
        if kind == "slow_link":
            elements = frozenset({self.speed_devices[victim % len(self.speed_devices)]})
        return Verdict("failed", FAULTS[pipeline][1], elements, kind)

    def rows(self, source: str, ts: dt.datetime) -> list[tuple]:
        """Fixture rows of one source for the fire at ``ts``. Times are
        relative to ``ts`` (naive UTC, like the DAGs' cutoffs), so a
        fixture is as fresh at the thousandth fire as at the first."""
        now = ts.astimezone(UTC).replace(tzinfo=None)
        r = _rng(self.seed, "rows", source, self._minute(ts))
        ago = lambda lo, hi: now - dt.timedelta(minutes=float(r.uniform(lo, hi)))  # noqa: E731

        def victim(pipeline: str, kind: str, n: int) -> int | None:
            f = self.fault(pipeline, ts)
            return f[1] % n if f is not None and f[0] == kind else None

        if source == "adguard_status":
            return [(True, True, 0)]
        if source == "adguard_querylog":
            v = victim("DNS-Requests", "stale_client", len(self.dns_clients))
            return [
                (c, ago(180, 240) if i == v else ago(1, 50))
                for i, c in enumerate(self.dns_clients)
            ]
        if source == "ha_entities":
            v = victim("Speedtest", "slow_link", len(self.speed_devices))
            out = []
            for i, d in enumerate(self.speed_devices):
                up_lim, down_lim = self.speed_limits[d]
                up = up_lim * float(r.uniform(1.2, 3.0))
                down = down_lim * float(r.uniform(1.2, 3.0))
                if i == v:
                    down = down_lim * float(r.uniform(0.1, 0.8))
                out += [
                    (d, "sensor.speedtest_upload", f"{up:.2f}"),
                    (d, "sensor.speedtest_download", f"{down:.2f}"),
                    (d, "sensor.uptime", f"{r.uniform(0, 1e6):.0f}"),
                ]
            return out
        if source == "syncthing_health":
            return [(d, "OK") for d in self.backup_devices]
        if source == "syncthing_folders":
            n = len(self.backup_devices) * len(self.folders)
            v = victim("Backups", "paused_folder", n)
            return [
                (d, f, i * len(self.folders) + j == v)
                for i, d in enumerate(self.backup_devices)
                for j, f in enumerate(self.folders)
            ]
        if source == "syncthing_folder_stats":
            return [
                (d, f, ago(1, 90))
                for d in self.backup_devices
                for f in self.folders
            ]
        if source == "ip_inventory":
            return list(self.ips)
        if source == "cloudflare_dns_records":
            recs = []
            for ip_id, v4, v6 in self.ips:
                name = MAPPED_IP_IDS.get(ip_id)
                if name is None:
                    continue
                drift = r.random() < 0.3
                recs.append((f"rec-a-{ip_id}", name, "A", "198.51.100.1" if drift else v4))
                if v6 is not None:
                    recs.append((f"rec-aaaa-{ip_id}", name, "AAAA", v6))
            v = victim("Cloudflare-Apps", "missing_dns_record", len(recs))
            return [rec for i, rec in enumerate(recs) if i != v]
        if source == "cloudflare_policies":
            return [("pol-1", "Home Allow List"), ("pol-2", "Deny All")]
        if source == "own_ip":
            return [(f"2001:db8::{int(r.integers(1, 0xFFFF)):x}",)]
        if source == "files":
            return [
                (f"/logs/run_{k}.log", now - dt.timedelta(days=float(r.uniform(0, 14))))
                for k in range(12)
            ]
        if source == "disk":
            full = victim("Airflow-Cleanup", "disk_full", 1) is not None
            pct = r.uniform(76, 95) if full else r.uniform(20, 70)
            return [(int(pct * 1_000_000), 100_000_000)]
        raise KeyError(source)


def fleet_plan(seed: int) -> FleetPlan:
    r = _rng(seed, "fleet")
    start = dt.datetime(2026, 1, 1, tzinfo=UTC) + dt.timedelta(
        days=int(r.integers(0, 365))
    )

    def names(prefix: str, n: int) -> list[str]:
        tags = r.choice(np.arange(100, 1000), size=n, replace=False)
        return [f"{prefix}{t}" for t in tags]

    clients = names("client", N_DNS_CLIENTS)
    devices = names("dev", N_SPEED_DEVICES)
    limits = {
        d: (round(float(r.uniform(5, 40)), 1), round(float(r.uniform(50, 400)), 1))
        for d in devices
    }
    backups = names("nas", N_BACKUP_DEVICES)
    folders = names("folder", N_FOLDERS)
    ip_ids = list(MAPPED_IP_IDS) + names("edge", N_IPS - len(MAPPED_IP_IDS))
    ips = []
    for k, ip_id in enumerate(ip_ids):
        v6 = f"2001:db8::{k + 1:x}" if r.random() < 0.5 else None
        ips.append((ip_id, f"203.0.113.{int(r.integers(1, 255))}", v6))
    variables = {
        "DNS_CLIENTS": "|".join(clients),
        "SPEEDTEST_DEVICES": "|".join(devices),
        "BACKUP_DEVICES": "|".join(backups),
        "HOST": "lab-host",
    }
    for d, (up, down) in limits.items():
        variables[f"SPEEDTEST_{d}_UPLOAD"] = str(up)
        variables[f"SPEEDTEST_{d}_DOWNLOAD"] = str(down)
    return FleetPlan(seed, start, clients, devices, limits, backups, folders, ips, variables)


# ---------------------------------------------------------------------------
# tables: star schema, documents, embeddings (fixed by DATA_SEED)
# ---------------------------------------------------------------------------

_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_WORDS = (
    "the a of and to in is batch part spark line column order small sort fast "
    "value scan hash slow group agg filter query big key window row table "
    "stream merge data customer vector join index shard plan cache"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]


def _days(rng, n, lo: dt.datetime, hi: dt.datetime) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.replace(tzinfo=None), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def star_tables(scale: float = SCALE) -> dict[str, "object"]:
    """region, nation, customer, supplier, part, orders, lineitem, events
    as pyarrow tables with the column names and types the registry
    queries read."""
    import pyarrow as pa

    rng = _rng(DATA_SEED, "star", scale)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    odate = _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    l_ord = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ord.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(
            odate[l_ord] + rng.integers(1, 122, n_li).astype("timedelta64[D]"),
            pa.timestamp("us"),
        ),
    })
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return t


def documents(n: int = N_DOCUMENTS) -> "object":
    """Corpus with planted exact duplicates (~4%), near duplicates (~6%,
    one word swapped in a long document) and short low-quality rows."""
    import pyarrow as pa

    rng = _rng(DATA_SEED, "documents", n)
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 20 and roll < 0.04:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 20 and roll < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            if len(words) >= 30:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))
        elif roll < 0.13:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(2, 6)))))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(15, 90)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def embedding_matrix(n: int = N_EMBEDDINGS) -> tuple[np.ndarray, np.ndarray]:
    """(n, EMBED_DIM) float32 unit vectors in groups of ``GROUP`` near
    duplicates around random centres (paraphrases of one passage), and
    a label per row. Tight groups give the exact top-10 of a query a
    clear answer, so ANN recall measures the index, not the data."""
    rng = _rng(DATA_SEED, "embeddings", n)
    centres = rng.standard_normal((n // GROUP + 1, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    group = np.arange(n) // GROUP
    vecs = centres[group] + GROUP_NOISE * rng.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), (group % N_CLUSTERS).astype(np.int32)


def embeddings_table(vecs: np.ndarray, labels: np.ndarray) -> "object":
    import pyarrow as pa

    return pa.table({
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })


def write_tables(out_dir: str, tables: dict) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def shuffled_documents(seed: int, n: int = N_DOCUMENTS) -> "object":
    """The fixed corpus in a seed-chosen row order: the published
    survivor set must not depend on arrival order."""
    docs = documents(n)
    return docs.take(_rng(seed, "doc-order").permutation(docs.num_rows))


# ---------------------------------------------------------------------------
# adhoc_query: a seeded deck of relational and vector queries
# ---------------------------------------------------------------------------

VECTOR_KINDS = ("exact", "lsh", "ivf", "pq")

#: The 51 relational registry queries ranked by warm latency (measured
#: at this scale, local[4]), cut into strata of two. A run serves one
#: seed-chosen query per stratum, so every seed's mix has the same cost
#: profile, neighbours around the median differ by a few percent, and
#: the run's median does not depend on which queries the seed drew;
#: across seeds every query is served.
RELATIONAL_BY_COST = (
    "q15 q01 q03 q19 q02 q04 q08 q07 q23 q11 q06 q51 q21 q24 q13 q17 q18 "
    "q16 q22 q27 q12 q14 q40 q30 q10 q38 q39 q20 q26 q48 q05 q09 q28 q41 "
    "q36 q50 q49 q25 q43 q34 q45 q47 q32 q29 q37 q46 q35 q44 q33 q42 q31"
).split()
STRATUM = 2


@dataclass(frozen=True)
class Query:
    kind: str  # "relational" or one of VECTOR_KINDS
    name: str  # registry name (relational) or "<kind>#<deck>"
    vector: tuple = ()  # a perturbed corpus row (vector kinds)


def served_queries(seed: int, relational: list[str]) -> list[str]:
    """One relational query per cost stratum, chosen by the seed."""
    known = set(relational)
    ranked = [q for q in RELATIONAL_BY_COST if q in known]
    ranked += sorted(known - set(ranked))
    r = _rng(seed, "served")
    return [
        str(r.choice(ranked[i:i + STRATUM])) for i in range(0, len(ranked), STRATUM)
    ]


def query_deck(seed: int, relational: list[str], vecs: np.ndarray, deck: int) -> list[Query]:
    """Deck ``deck`` of the run: each served relational query and each
    vector kind once, in a seed-chosen order, with fresh query vectors
    (seeded perturbations of corpus rows). Every deck of a run serves
    the same queries, so a run timed in whole decks always measures the
    same mix."""
    r = _rng(seed, "deck", deck)
    items = [Query("relational", q) for q in served_queries(seed, relational)]
    for kind in VECTOR_KINDS:
        row = int(r.integers(0, len(vecs)))
        v = vecs[row].astype(np.float64) + QUERY_NOISE * r.standard_normal(vecs.shape[1])
        v /= np.linalg.norm(v)
        items.append(Query(kind, f"{kind}#{deck}", tuple(float(x) for x in v)))
    return [items[i] for i in r.permutation(len(items))]
