"""Seeded input generators for the benchmark.

Everything the engine reads during a run is made here from the workload
seed, without the engine: the catalog fixture tables, the LMS department
rosters with their daily mutations (served by the in-process REST stub),
and the parquet change files of the incremental stream.  The same seed
gives byte-identical inputs.  The generators also compute the state the
sqlite target must hold after each operation, again without the engine,
so a run can check the engine's writes.

Sizes never depend on the seed: the seed only moves values and orders, so
two seeds cost the same amount of work.
"""

from __future__ import annotations

import json
import os
import random
import uuid
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Catalog fixture: the TPC-H-ish star schema plus events/documents/embeddings
# --------------------------------------------------------------------------

CATALOG_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_THINGS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64


def catalog_sizes(scale: float) -> dict[str, int]:
    """Row counts at ``scale`` (0.01 and 0.1 match the sf0.01/sf0.1
    fixture layout the catalog was written against)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * scale),
        "supplier": int(10_000 * scale),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(_VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # near-duplicates (an earlier doc plus one token) and exact duplicates,
    # so the dedup/LSH queries have real pairs to find
    for i in rng.choice(np.arange(n // 2, n), size=max(1, n // 100), replace=False):
        src = int(rng.integers(0, n // 2))
        out[i] = out[src] + " dup" if rng.random() < 0.7 else out[src]
    return out


def catalog_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = catalog_sizes(scale)
    nc, ns, npart, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"],
    )
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [f"{_COLORS[a]} {_THINGS[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": np.array(_STATUS)[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": np.array(_PRIORITY)[rng.integers(0, 5, no)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": ts0 + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(100, int(15_000 * scale)), ne), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = _documents(rng, nd)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    nv = n["embeddings"]
    v = rng.standard_normal((nv, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return t


def write_catalog(seed: int, scale: float, out_dir: str) -> dict[str, int]:
    """Write every catalog table as ``<out_dir>/<name>.parquet``; returns
    the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in catalog_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# --------------------------------------------------------------------------
# LMS department roster, daily mutations, and the REST payloads
# --------------------------------------------------------------------------

#: department sizes: a few large among many small.  The seed decides which
#: department gets which size, never the sizes themselves.  The sizes, like
#: the daily churn in :meth:`LmsRoster.advance`, are assumptions: no
#: measured distribution of real LMS departments is available.
DEPARTMENT_SIZES = (1600, 400, 100, 50, 50, 25, 25, 25)
#: size of the extra department the set-up warms the pipeline on
WARMUP_DEPARTMENT_SIZE = 40

_FIRST = ["Ann", "Bob", "Chen", "Dana", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jin"]
_LAST = ["Ng", "Ortiz", "Park", "Quinn", "Roy", "Sato", "Tran", "Uddin", "Vega", "Wu"]
_TITLES = ["Analyst", "Nurse", "Teacher", "Engineer", "Clerk", "Manager"]
_CITIES = ["Springfield", "Riverton", "Lakeside", "Fairview", "Greenville"]
_STREETS = ["Main St", "Oak Ave", "Pine Rd", "Cedar Ln", "Elm Dr"]
_LOCATIONS = ["HQ", "Clinic 2", "Campus, East", "Remote"]
_COHORTS = ["A", "B", "C", "D"]
_SITES = ["north", "south", "east", "west"]
_EPOCH = datetime(2019, 1, 1)

#: API keys in payload order -> the warehouse column the pipeline writes:
#: every column of the ``department_members`` table (FIXTURES.md section 2)
RENAME_MAP = {
    "id": "lms_user_id",
    "departmentId": "department_id",
    "firstName": "first_name",
    "middleName": "middle_name",
    "lastName": "last_name",
    "userName": "user_name",
    "password": "password",
    "emailAddress": "email_address",
    "externalId": "illum_id",
    "ccEmailAddresses": "cc_email_addresses",
    "languageId": "language_id",
    "provinceId": "province_id",
    "countryId": "country_id",
    "supervisorId": "supervisor_id",
    "gender": "gender",
    "address": "address",
    "address2": "address_2",
    "city": "city",
    "postalCode": "postal_code",
    "phone": "phone",
    "location": "location",
    "jobTitle": "job_title",
    "referenceNumber": "reference_number",
    "employeeNumber": "employee_number",
    "notes": "notes",
    "roleIds": "role_ids",
    "dateHired": "date_hired",
    "dateTerminated": "date_terminated",
    "dateEdited": "date_edited",
    "dateAdded": "date_added",
    "lastLoginDate": "last_login_date",
    "activeStatus": "active_status",
    "isLearner": "is_learner",
    "isAdmin": "is_admin",
    "isInstructor": "is_instructor",
    "isManager": "is_manager",
    "hasUserName": "has_user_name",
}
CUSTOM_FIELDS = ("cohort", "mentor", "site")
INT_COLUMNS = (
    "lms_user_id", "language_id", "province_id", "country_id", "supervisor_id",
    "active_status",
)
DATETIME_COLUMNS = (
    "date_hired", "date_terminated", "date_edited", "date_added", "last_login_date",
)
BOOL_COLUMNS = ("is_learner", "is_admin", "is_instructor", "is_manager", "has_user_name")
#: warehouse columns in table order (the key first)
TARGET_COLUMNS = tuple(RENAME_MAP.values()) + ("custom_fields",)


#: the API's datetime format, which the load parses strictly
LMS_FORMAT = "%m-%d-%Y %H:%M:%S"
#: ISO timestamps, which the load must turn into NULL
ISO_FORMAT = "%Y-%m-%dT%H:%M:%S"


def _stamp(rng: random.Random, fmt: str = LMS_FORMAT) -> str:
    return (_EPOCH + timedelta(seconds=rng.randrange(4 * 365 * 86_400))).strftime(fmt)


def _maybe(rng: random.Random, value, p_null: float):
    return None if rng.random() < p_null else value


def _flag(rng: random.Random, p_true: float, p_null: float = 0.0) -> str | None:
    """A boolean as the API sends it: the string ``'True'`` or ``'False'``."""
    return _maybe(rng, "True" if rng.random() < p_true else "False", p_null)


class LmsRoster:
    """Department rosters as the LMS API serves them, day by day.

    Day 0 is the initial roster; each later day mutates a share of every
    department's users (updates) and hires a few (inserts).  Users are
    never deleted, as in the reference's upsert-only load.  Rows carry the
    reference's hostile values: ISO dates the load must turn into NULL,
    ``'False'`` strings for booleans, missing ``externalId`` keys, null
    integer ids, and ``customFields`` objects with null members.
    """

    def __init__(self, seed: int):
        self.seed = seed
        rng = random.Random(f"roster:{seed}")
        sizes = list(DEPARTMENT_SIZES)
        rng.shuffle(sizes)
        self.departments = [str(uuid.UUID(int=rng.getrandbits(128))) for _ in sizes]
        self.warmup_department = str(uuid.UUID(int=rng.getrandbits(128)))
        self._next_id = 1
        self.users: dict[str, dict[int, dict]] = {}
        self.day: dict[str, int] = {}
        for dep, size in zip(
            self.departments + [self.warmup_department],
            sizes + [WARMUP_DEPARTMENT_SIZE],
        ):
            self.users[dep] = {}
            self.day[dep] = 0
            drng = random.Random(f"hire:{seed}:{dep}")
            for _ in range(size):
                self._hire(dep, drng)

    def _hire(self, dep: str, rng: random.Random) -> None:
        uid = self._next_id
        self._next_id += 1
        first, last = rng.choice(_FIRST), rng.choice(_LAST)
        added = _stamp(rng)
        u = {
            "id": uid,
            "departmentId": dep,
            "firstName": _maybe(rng, first, 0.05),
            "middleName": _maybe(rng, rng.choice(_FIRST)[0], 0.6),
            "lastName": last,
            "userName": f"{first.lower()}.{last.lower()}{uid}",
            "password": f"{rng.getrandbits(128):032x}",
            "emailAddress": f"user{uid}@example.org",
            "externalId": f"E{uid:07d}",
            "ccEmailAddresses": _maybe(rng, f"lead{uid % 97}@example.org;hr@example.org", 0.7),
            "languageId": _maybe(rng, rng.randrange(1, 6), 0.2),
            "provinceId": _maybe(rng, rng.randrange(1, 14), 0.3),
            "countryId": _maybe(rng, rng.choice([1, 1, 1, 2]), 0.1),
            "supervisorId": _maybe(rng, rng.randrange(1, uid + 1), 0.4),
            "gender": _maybe(rng, rng.choice(["F", "M", "X"]), 0.3),
            "address": f"{rng.randrange(1, 999)} {rng.choice(_STREETS)}",
            "address2": _maybe(rng, f"Unit {rng.randrange(1, 40)}", 0.8),
            "city": rng.choice(_CITIES),
            "postalCode": f"{rng.randrange(10000, 99999)}",
            "phone": _maybe(rng, f"555-{rng.randrange(1000, 9999)}", 0.2),
            "location": _maybe(rng, rng.choice(_LOCATIONS), 0.3),
            "jobTitle": _maybe(rng, rng.choice(_TITLES), 0.1),
            "referenceNumber": _maybe(rng, f"R-{rng.getrandbits(24):06x}", 0.5),
            "employeeNumber": f"{uid:08d}",
            "notes": _maybe(rng, "transferred, see HR file", 0.9),
            "roleIds": rng.choice(["3", "3,7", "2,3,7"]),
            "dateHired": _stamp(rng, ISO_FORMAT if rng.random() < 0.1 else LMS_FORMAT),
            "dateTerminated": None,
            "dateEdited": added,
            "dateAdded": added,
            "lastLoginDate": _maybe(rng, _stamp(rng), 0.2),
            "activeStatus": _maybe(rng, rng.randrange(3), 0.1),
            "isLearner": _flag(rng, 0.8, 0.05),
            "isAdmin": _flag(rng, 0.02),
            "isInstructor": _flag(rng, 0.1),
            "isManager": _flag(rng, 0.1),
            "hasUserName": _flag(rng, 0.95),
            "customFields": {
                "cohort": _maybe(rng, rng.choice(_COHORTS), 0.3),
                "mentor": _maybe(rng, f"user{rng.randrange(1, uid + 1)}", 0.5),
                "site": _maybe(rng, rng.choice(_SITES), 0.2),
            },
        }
        if rng.random() < 0.1:
            del u["externalId"]  # the API omits the key, not just the value
        self.users[dep][uid] = u

    def advance(self, dep: str) -> None:
        """Move one department to its next day: ~10% of its users change,
        ~3% are hired."""
        self.day[dep] += 1
        rng = random.Random(f"day:{self.seed}:{dep}:{self.day[dep]}")
        users = self.users[dep]
        ids = sorted(users)
        for uid in rng.sample(ids, max(1, len(ids) // 10)):
            u = users[uid]
            u["lastLoginDate"] = _stamp(rng)
            u["dateEdited"] = _stamp(rng)
            u["customFields"] = dict(u["customFields"], site=_maybe(rng, rng.choice(_SITES), 0.2))
            if rng.random() < 0.2:
                u["jobTitle"] = rng.choice(_TITLES)
                u["supervisorId"] = _maybe(rng, rng.randrange(1, uid + 1), 0.4)
            if rng.random() < 0.1:
                u["activeStatus"] = 0
                u["dateTerminated"] = _stamp(rng)
        for _ in range(max(1, len(ids) * 3 // 100)):
            self._hire(dep, rng)

    def payload(self, dep: str) -> bytes:
        """The API's JSON page for one department, pagination keys included."""
        users = list(self.users[dep].values())
        return json.dumps({
            "totalItems": len(users), "limit": len(users), "offset": 0,
            "returnedItems": len(users), "users": users,
        }).encode()

    def expected_rows(self, dep: str) -> dict[int, tuple]:
        """Rows the target table must hold for ``dep``, keyed by user id,
        in :data:`TARGET_COLUMNS` order."""
        return {uid: expected_row(u) for uid, u in self.users[dep].items()}

    def expected_all(self) -> dict[int, tuple]:
        out: dict[int, tuple] = {}
        for dep in self.users:
            out.update(self.expected_rows(dep))
        return out


def _parse_lms_dt(value: str | None) -> str | None:
    """Format-strict ``MM-dd-yyyy HH:mm:ss`` parse, as the load applies it:
    anything else is NULL; a hit is stored as ``YYYY-MM-DD HH:MM:SS``."""
    if value is None:
        return None
    try:
        return datetime.strptime(value, LMS_FORMAT).isoformat(" ")
    except ValueError:
        return None


def expected_row(u: dict) -> tuple:
    """One API user as the load must leave it in the target table: strings
    NULL -> ``' '``, ``'True'/'False'`` -> 1/0, strict datetimes, and the
    non-null custom fields packed as compact JSON."""
    out = []
    for key, col in RENAME_MAP.items():
        v = u.get(key)
        if col in DATETIME_COLUMNS:
            out.append(_parse_lms_dt(v))
        elif col in BOOL_COLUMNS:
            out.append(None if v is None else int(v == "True"))
        elif col in INT_COLUMNS:
            out.append(v)
        else:
            out.append(" " if v is None else v)
    cf = {k: u["customFields"][k] for k in CUSTOM_FIELDS if u["customFields"][k] is not None}
    out.append(json.dumps(cf, separators=(",", ":")))
    return tuple(out)


# --------------------------------------------------------------------------
# Incremental stream: parquet change files for the keyed upsert
# --------------------------------------------------------------------------

STREAM_COLUMNS = ("lms_user_id", "department_id", "email", "score", "active_status", "last_seen")
STREAM_SCHEMA = pa.schema([
    ("lms_user_id", pa.int64()),
    ("department_id", pa.string()),
    ("email", pa.string()),
    ("score", pa.float64()),
    ("active_status", pa.int64()),
    ("last_seen", pa.string()),
])


class ChangeStream:
    """Seeded change files for the streaming load.

    Each file holds ``rows`` distinct keys.  Half of them are new users,
    the rest re-touch existing keys drawn with a skew toward the most
    recently written ones (recent activity is what changes again).
    :meth:`expected` is the table state after every file so far has been
    applied in order.
    """

    def __init__(self, seed: int, rows: int):
        self.seed = seed
        self.rows = rows
        self.n_files = 0
        self.state: dict[int, tuple] = {}
        self._recent: list[int] = []  # keys in write order, newest last
        self._next_id = 1

    def next_file(self, rows: int | None = None) -> pa.Table:
        rows = rows or self.rows
        rng = np.random.default_rng([self.seed, 2, self.n_files])
        self.n_files += 1
        n_new = rows if not self._recent else rows // 2
        keys = list(range(self._next_id, self._next_id + n_new))
        self._next_id += n_new
        if n_new < rows:
            # geometric distance back from the newest key: a skew toward
            # recent writes; distinct keys only, so the file's upsert order
            # cannot matter
            pool = np.array(self._recent, dtype=np.int64)
            back = rng.geometric(1.0 / max(1, len(pool) // 8), size=4 * rows)
            seen = set(keys)
            for b in back:
                k = int(pool[-min(int(b), len(pool))])
                if k not in seen:
                    seen.add(k)
                    keys.append(k)
                    if len(keys) == rows:
                        break
            if len(keys) < rows:
                for k in pool[::-1]:
                    if int(k) not in seen:
                        seen.add(int(k))
                        keys.append(int(k))
                        if len(keys) == rows:
                            break
        n = len(keys)
        dep = rng.integers(0, 16, n)
        score = np.round(rng.uniform(0, 100, n), 3)
        status = rng.integers(0, 3, n)
        nulls = rng.random(n) < 0.05
        secs = rng.integers(0, 86_400 * 365, n)
        table = pa.table({
            "lms_user_id": pa.array(keys, pa.int64()),
            "department_id": [f"dep{d:02d}" for d in dep],
            "email": [f"user{k}@example.org" for k in keys],
            "score": score,
            "active_status": pa.array(
                [None if z else int(s) for s, z in zip(status, nulls)], pa.int64()
            ),
            "last_seen": [
                (_EPOCH + timedelta(seconds=int(s))).isoformat(" ") for s in secs
            ],
        }, schema=STREAM_SCHEMA)
        for row in zip(*(table.column(c).to_pylist() for c in STREAM_COLUMNS)):
            self.state[row[0]] = row
        touched = set(keys)
        self._recent = [k for k in self._recent if k not in touched] + keys
        return table

    def expected(self) -> dict[int, tuple]:
        return dict(self.state)
