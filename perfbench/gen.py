"""Seeded input generators for the three workloads.

Everything here is plain Python / NumPy / PyArrow: the package under test
receives only the files written here, never the generator itself. The same
seed gives byte-identical inputs (the stream's open-loop files differ only in
the wall-clock stamps, which are taken when each file is due).

Posting properties, and why each is there (batch_daily and stream_fanout):

- ~10% of job_ids re-listed with a newer ``listed_time``: exercises the dedup
  shuffle and its latest-wins winner (``operators.dedup``).
- ~1% null or blank required fields (job_id, company_name, title): exercises
  ``require_fields``; a re-listing whose newest copy is blank drops the job.
- Zipf-skewed company names over ~5k distinct, in mixed case and with space
  padding: skewed group-by keys that only agree after ``canonicalize``.
- Salary strings such as ``"$85,000"``, one-sided ranges and values <= 0:
  the numeric cleaner, ``positive_or_null`` and ``midpoint_coalesce``.
- 10% GBP rows (and some without a currency): ``convert_currency`` and the
  USD default.
- Titles that hit every category and experience rule, including titles that
  match several rules, so first-match order decides.
- ``listed_time`` spread over ~90 days before the event date, crossing month
  and quarter boundaries: the freshness buckets and the temporal cube.
- Locations whose country is inside and outside ``REGION_MAP``. The raw
  record has no country field and ``normalize_raw`` sets
  ``location_country`` to null, so every row lands in region "Other"; the
  data carries the countries so a fix to that mapping shows in the cubes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from bisect import bisect_left
from itertools import accumulate

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_DATE = "2024-04-05"
_EVENT_MS = int(dt.datetime(2024, 4, 5, tzinfo=dt.timezone.utc).timestamp() * 1000)
_DAY_MS = 86_400_000

_EXPERIENCE = [
    "Intern", "Trainee", "Junior", "Entry Level", "Graduate", "Senior", "Sr.",
    "Lead", "Principal", "Staff", "Director of", "Head of", "",
    "", "", "",
]
_ROLES = [
    "Data Scientist", "Data Analyst", "Data Engineer", "Machine Learning Engineer",
    "Software Engineer", "Backend Developer", "Programmer", "UX Designer",
    "UI Designer", "Graphic Designer", "Marketing Specialist", "SEO Analyst",
    "Content Writer", "Sales Representative", "Account Executive", "Sales Engineer",
    "Recruiter", "Talent Partner", "Human Resources Generalist", "HR Coordinator",
    "Finance Analyst", "Accountant", "Accounting Clerk", "Product Manager",
    "Product Owner", "Support Specialist", "Customer Service Agent",
    "Warehouse Associate", "Engineering Manager", "Data Team Lead",
]
_LOCATIONS = [
    "Austin, TX, US", "New York, NY, USA", "Seattle, WA, United States",
    "Toronto, ON, CA", "London, UK", "Manchester, GB", "Paris, FR", "Berlin, DE",
    "Hanoi, VN", "Sydney, AU", "Bangalore, IN", "Sao Paulo, BR", "Remote",
]
_WORK_TYPES = [
    ("FULL_TIME", "Full-time"), ("PART_TIME", "Part-time"), ("CONTRACT", "Contract"),
    ("INTERNSHIP", "Internship"), ("TEMPORARY", "Temporary"), (" full_time ", None),
    (None, "Full-time"), (None, "Contract"),
]
_LEVELS = ["Not Specified", "Not Specified", None, None, "Mid-Senior level",
           "Entry level", "Associate", "Director"]
_SYLLABLES = ["ac", "me", "glo", "bex", "ini", "tech", "hoo", "li", "vand", "el",
              "ay", "sto", "ne", "um", "bra", "co", "dy", "ne", "ix", "or"]
_SUFFIXES = ["Labs", "Inc", "Group", "Systems", "Partners", "Co", "Analytics", "Works"]


def _company_pool(rng: random.Random, n: int) -> list[str]:
    names: set[str] = set()
    while len(names) < n:
        base = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
        names.add(f"{base.capitalize()} {rng.choice(_SUFFIXES)} {len(names) % 97}")
    return sorted(names)


def _variant(rng: random.Random, name: str) -> str:
    """Mixed case and space padding; all variants canonicalize to one key."""
    r = rng.random()
    if r < 0.15:
        name = name.upper()
    elif r < 0.25:
        name = name.lower()
    if rng.random() < 0.1:
        name = f"  {name} "
    return name


def _salary(rng: random.Random, usd: float) -> str:
    r = rng.random()
    if r < 0.4:
        return f"${usd:,.0f}"
    if r < 0.7:
        return f"{usd:.1f}"
    if r < 0.95:
        return f"{usd:,.0f}"
    return rng.choice(["0", "0.0", "$0"])  # <=0 after cleaning -> null


class PostingGen:
    """All-string raw postings in ``RAW_POSTING_SCHEMA`` field names.

    ``batch_rows`` makes one event date's lake, ``stream_rows`` one file of
    the stream; both draw from the instance's seeded generator in turn."""

    def __init__(self, seed: int, n_companies: int = 5000):
        self.rng = random.Random(seed)
        self.companies = _company_pool(self.rng, n_companies)
        # Zipf(1.1) over company rank: a few companies hold most postings
        self.cum = list(accumulate(1.0 / (r + 1) ** 1.1 for r in range(n_companies)))

    def _company(self) -> str:
        rng = self.rng
        i = bisect_left(self.cum, rng.random() * self.cum[-1])
        return _variant(rng, self.companies[min(i, len(self.companies) - 1)])

    def record(self, job_id: str | None, listed_ms: int) -> dict:
        rng = self.rng
        exp = rng.choice(_EXPERIENCE)
        title = f"{exp} {rng.choice(_ROLES)}".strip()
        lo = rng.uniform(30_000, 160_000)
        hi = lo * rng.uniform(1.05, 1.6)
        shape = rng.random()
        wt, fwt = rng.choice(_WORK_TYPES)
        rec = {
            "job_id": job_id,
            "company_name": self._company(),
            "title": title,
            "description": f"{title} role, team {rng.randint(1, 400)}",
            "location": rng.choice(_LOCATIONS),
            "min_salary": _salary(rng, lo) if shape > 0.3 else None,
            "max_salary": _salary(rng, hi) if (shape > 0.4 or shape < 0.2) else None,
            "currency": "GBP" if rng.random() < 0.1 else rng.choice(["USD"] * 9 + [None]),
            "views": f"{rng.randint(0, 900)}.0" if rng.random() < 0.95 else None,
            "applies": f"{rng.randint(0, 90)}.0" if rng.random() < 0.9 else None,
            "listed_time": str(listed_ms),
            "work_type": wt,
            "formatted_work_type": fwt,
            "formatted_experience_level": rng.choice(_LEVELS),
            "remote_allowed": rng.choice(["1", "0", "true", None]),
        }
        return {k: v for k, v in rec.items() if v is not None}

    def _blank_one(self, rec: dict) -> None:
        field = self.rng.choice(["job_id", "company_name", "title"])
        if self.rng.random() < 0.5:
            rec.pop(field, None)
        else:
            rec[field] = " " * self.rng.randint(0, 2)

    def batch_rows(self, n: int) -> list[dict]:
        """~n raw rows for one event date: ~90% first listings, ~10% newer
        re-listings of earlier job_ids, ~1% with a required field blanked."""
        rng = self.rng
        n_jobs = int(n / 1.1)
        rows = []
        for j in range(n_jobs):
            listed = _EVENT_MS - rng.randint(6 * _DAY_MS, 90 * _DAY_MS)
            rows.append(self.record(f"J{j:08d}", listed))
        for _ in range(n - n_jobs):
            base = rows[rng.randrange(n_jobs)]
            newer = int(base["listed_time"]) + rng.randint(60_000, 5 * _DAY_MS)
            rows.append(self.record(base["job_id"], newer))
        for rec in rng.sample(rows, n // 100):
            self._blank_one(rec)
        rng.shuffle(rows)
        return rows

    def stream_rows(self, n: int, prefix: str, stamp_ms: int, late_ms: int) -> list[dict]:
        """n unique postings stamped ``stamp_ms`` (the time their file is
        due); 5% carry a stamp up to ``late_ms`` older, so windows that
        were already emitted are re-opened. The producer stamps the
        listing time, which the benchmark turns into the ingest time."""
        rng = self.rng
        rows = []
        for i in range(n):
            ts = stamp_ms - (rng.randint(1, late_ms) if rng.random() < 0.05 else 0)
            rec = self.record(f"{prefix}{i:06d}", ts)
            # window dims are never null on the stream (see stream_fanout)
            rec.setdefault("formatted_work_type", "Full-time")
            rows.append(rec)
        for rec in rng.sample(rows, max(1, n // 100)):
            self._blank_one(rec)
        return rows


def valid(rec: dict) -> bool:
    return all((rec.get(f) or "").strip() for f in ("job_id", "company_name", "title"))


def expected_detail_rows(rows: list[dict]) -> int:
    """Rows ``clean_postings`` keeps: per job_id the newest listing (ties by
    job_id) wins, then winners with a blank required field are dropped.
    Null job_ids share one group, as in a Spark window partition."""
    best: dict = {}
    for rec in rows:
        key = rec.get("job_id")
        t = int(rec["listed_time"])
        if key not in best or t > int(best[key]["listed_time"]):
            best[key] = rec
    return sum(1 for rec in best.values() if valid(rec))


def write_json_lines(path: str, rows: list[dict]) -> None:
    """Write atomically: a reader (or a file stream) never sees a partial file."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(json.dumps(r, separators=(",", ":")) for r in rows))
        fh.write("\n")
    os.replace(tmp, path)


def write_json_lake(dest: str, rows: list[dict], n_files: int) -> None:
    os.makedirs(dest, exist_ok=True)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        write_json_lines(os.path.join(dest, f"part-{i:03d}.json"), rows[i * step:(i + 1) * step])


# ---------------------------------------------------------------------------
# query_mix: the engine's star-schema tables (the schema of the test fixtures)
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "red", "green", "small", "hot", "cold", "old", "new"]
_PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "spring"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small big query customer order stream "
    "group filter vector"
).split()


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = int(base.timestamp() * 1_000_000) + (seconds * 1_000_000).astype(np.int64)
    return pa.array(micros, type=pa.timestamp("us"))


def _write(sf_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))


def write_star_tables(sf_dir: str, sf: float, seed: int) -> None:
    """The ten tables ``catalog.TABLES`` names, at scale factor ``sf``, with
    the fixture row ratios (lineitem = 6M x sf). Shapes the headline queries
    depend on: skewed event values with 'error' incidents, near-duplicate
    documents (minhash), clustered embeddings (LSH), part names that hit
    every category rule, order and ship dates across the query cut-offs."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    utc = dt.timezone.utc
    epoch95 = dt.datetime(1995, 1, 1, tzinfo=utc).replace(tzinfo=None)

    _write(sf_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": _REGIONS})
    _write(sf_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(sf_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(sf_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    price = np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(sf_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": price})

    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(sf_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 480_000, n_ord), 2),
        "o_orderdate": _ts(epoch95, order_day * 86_400),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    lines = rng.integers(1, 8, n_ord)  # 1..7 lines per order, 4 on average
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_num = (np.arange(len(l_order)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    partkey = rng.integers(0, n_part, n_li).astype(np.int64)
    perm = rng.permutation(n_li)  # the fixtures are not stored in key order
    ship = order_day[l_order] + rng.integers(1, 122, n_li)
    _write(sf_dir, "lineitem", {
        "l_orderkey": l_order[perm],
        "l_partkey": partkey[perm],
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64)[perm],
        "l_linenumber": pa.array(l_num.astype(np.int32)[perm]),
        "l_quantity": qty[perm],
        "l_extendedprice": np.round(qty * price[partkey], 2)[perm],
        "l_discount": (rng.integers(0, 11, n_li) / 100.0)[perm],
        "l_tax": (rng.integers(0, 9, n_li) / 100.0)[perm],
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(epoch95, ship[perm] * 86_400)})

    n_ev = int(1_000_000 * sf)
    ev_s = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    _write(sf_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_s),
        "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})

    n_doc = max(500, int(50_000 * sf))
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.15:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words))
        else:
            n_w = int(rng.integers(8, 90))
            texts.append(" ".join(_VOCAB[k] for k in rng.integers(0, len(_VOCAB), n_w)))
    _write(sf_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [("en", "de", "fr", "es", "zh")[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    n_emb = max(500, int(20_000 * sf))
    centroids = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centroids[label] + rng.normal(0, 0.6, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(sf_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})
