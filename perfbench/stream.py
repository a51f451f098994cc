"""Open-loop load into the reference topology, and its pandas reference.

The generator plays ``user-generator.py``: one user file and one address
file per second, 25 users and 75 addresses (100 events/s).  About 10% of
addresses are published one slot before their user (the join buffers
them) and about 10% up to ten slots after it (cross-batch state).  Each
file is written under a ``.``-prefixed name and renamed into place, so the
file source never sees a partial file.  Due times stay in this process;
the files carry only the wire fields plus ``seq``.

Latency is read back from the checkpoint: the micro-batch whose
``sources/<i>/<batchId>`` log lists a file commits at the mtime of
``commits/<batchId>``.
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time
from collections import Counter, defaultdict


USERS_PER_SLOT = 25
ADDRS_PER_USER = 3
EARLY_FRAC = 0.10
LATE_FRAC = 0.10
LATE_MAX_SLOTS = 10
DRAIN_TIMEOUT_S = 60.0

_FIRST = ["James", "Mary", "Robert", "Linda", "Alex", "Sam", "Jordan", "Casey"]
_LAST = ["Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller"]
_STATES = ["Illinois", "Texas", "California", "Ohio", "Georgia", "Oregon"]
_COUNTRIES = ["Brazil", "Portugal", "Japan", "Canada", "France", "Mexico"]
_CITIES = ["Springfield", "Austin", "Fresno", "Akron", "Macon", "Salem"]


# ------------------------------------------------------------------ load


def build_plan(seed: int, n_slots: int) -> list[dict]:
    """Slots 0..n_slots of {"users": [...], "addresses": [...]} rows.

    ``seq`` is assigned in publish order (slot, users before addresses),
    so a key's processing order is its ``seq`` order.
    """
    rng = random.Random(seed)
    slots = [{"users": [], "addresses": []} for _ in range(n_slots + 1)]
    uid = 0
    for s in range(n_slots + 1):
        for _ in range(USERS_PER_SLOT):
            key = f"user-{seed}-{uid:07d}"
            first, last = rng.choice(_FIRST), rng.choice(_LAST)
            slots[s]["users"].append({
                "id": key,
                "name": f"{first} {last}",
                "email": f"{first.lower()}.{last.lower()}{uid}@example.com",
                "genre": rng.choice("MFO"),
                "registerDate": f"2024-01-{1 + uid % 28:02d}T{uid % 24:02d}:{uid % 60:02d}:00",
            })
            for _ in range(ADDRS_PER_USER):
                r = rng.random()
                if r < EARLY_FRAC and s > 0:
                    target = s - 1
                elif r < EARLY_FRAC + LATE_FRAC:
                    target = min(n_slots, s + rng.randint(1, LATE_MAX_SLOTS))
                else:
                    target = s
                slots[target]["addresses"].append({
                    "userId": key,
                    "address": f"{rng.randint(100, 9999)} Main St",
                    "city": rng.choice(_CITIES),
                    "state": rng.choice(_STATES),
                    "zipCode": f"{rng.randint(0, 99999):05d}",
                    "country": rng.choice(_COUNTRIES),
                })
            uid += 1
    seq = 0
    for slot in slots:
        for row in slot["users"] + slot["addresses"]:
            seq += 1
            row["seq"] = seq
    return slots


def publish(directory: str, name: str, rows: list[dict]) -> str:
    """Write JSON lines under a hidden name, then rename into place."""
    tmp = os.path.join(directory, f".{name}")
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    final = os.path.join(directory, name)
    os.rename(tmp, final)
    return final


def slot_files(s: int) -> tuple[str, str]:
    return f"u-{s:06d}.json", f"a-{s:06d}.json"


# ------------------------------------------------------------------ checkpoint


def read_checkpoint(ckpt: str) -> tuple[dict[str, int], dict[int, float], dict[int, float]]:
    """(file name -> batchId, batchId -> commit time, batchId -> start time)."""
    file_batch: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "*", "*")):
        if os.path.basename(path).startswith("."):
            continue
        try:
            with open(path) as f:
                lines = f.read().splitlines()[1:]
        except OSError:
            continue
        for line in lines:
            if line.strip():
                e = json.loads(line)
                file_batch[os.path.basename(e["path"])] = int(e["batchId"])

    def mtimes(sub: str) -> dict[int, float]:
        out = {}
        for p in glob.glob(os.path.join(ckpt, sub, "*")):
            b = os.path.basename(p)
            if b.isdigit():
                out[int(b)] = os.path.getmtime(p)
        return out

    return file_batch, mtimes("commits"), mtimes("offsets")


def wait_committed(ckpt: str, names: list[str], deadline: float) -> bool:
    while time.time() < deadline:
        fb, commits, _ = read_checkpoint(ckpt)
        if all(n in fb and fb[n] in commits for n in names):
            return True
        time.sleep(0.2)
    return False


# ------------------------------------------------------------------ reference


def reference_tables(slots: list[dict]) -> tuple[dict, dict[str, int], dict[str, int]]:
    """Independent model of Main.java:104-132 over the generated events.

    Returns the expected final userAddress rows (per user: user fields
    and the full address list in ``seq`` order) and, per state / country,
    an upper bound of the windowed counts: every emission of a key carries
    a prefix of its address list and a key emits at most once per event.
    """
    users, addrs = {}, defaultdict(list)
    for slot in slots:
        for u in slot["users"]:
            users[u["id"]] = u
        for a in slot["addresses"]:
            addrs[a["userId"]].append(a)
    expected, state_bound, country_bound = {}, Counter(), Counter()
    for key, u in users.items():
        lst = sorted(addrs.get(key, []), key=lambda a: a["seq"])
        expected[key] = {
            "userName": u["name"], "userEmail": u["email"], "genre": u["genre"],
            "registerDate": u["registerDate"].replace("T", " "),
            "addresses": [
                (a["address"], a["city"], a["state"], a["zipCode"], a["country"]) for a in lst
            ],
        }
        for a in lst:
            state_bound[a["state"]] += len(lst) + 1
            country_bound[a["country"]] += len(lst) + 1
    return expected, dict(state_bound), dict(country_bound)


def check_tables(expected: dict, state_bound: dict, country_bound: dict,
                 ua_rows: list[dict], state_rows: list[dict], country_rows: list[dict]) -> dict[str, int]:
    """Compare the sink tables with the reference.

    Returns {userId: failed events} for keys that are missing, extra or
    differ (a key's events are 1 user + its addresses), plus the address
    events behind each wrong count-table key.
    """
    failed: dict[str, int] = {}
    got = {r["userId"]: r for r in ua_rows}
    for key, exp in expected.items():
        r = got.get(key)
        ok = r is not None and all(r[f] == exp[f] for f in ("userName", "userEmail", "genre", "registerDate")) \
            and [tuple(a) for a in r["addresses"]] == exp["addresses"]
        if not ok:
            failed[key] = 1 + len(exp["addresses"])
    for key in set(got) - set(expected):
        failed[key] = 1
    for dim, rows, bound in (("state", state_rows, state_bound), ("country", country_rows, country_bound)):
        counts = {r[dim]: r["count"] for r in rows}
        for k in set(counts) | set(bound):
            if k not in counts or k not in bound or not 0 < counts[k] <= bound[k]:
                failed[f"{dim}:{k}"] = max(1, sum(
                    1 for e in expected.values() for a in e["addresses"]
                    if a[2 if dim == "state" else 4] == k))
    return failed


def sink_rows(pipe) -> tuple[list[dict], list[dict], list[dict]]:
    """The three sink tables through the sinks' public ``read``."""
    ua = pipe.sinks["userAddress"].read().toPandas()
    ua_rows = [{
        "userId": r.userId, "userName": r.userName, "userEmail": r.userEmail,
        "genre": r.genre, "registerDate": str(r.registerDate),
        "addresses": [
            (a["address"], a["city"], a["state"], a["zipCode"], a["country"]) for a in r.addresses
        ],
    } for r in ua.itertuples(index=False)]
    st = pipe.sinks["userCountByState"].read().toPandas().to_dict("records")
    co = pipe.sinks["userCountByCountry"].read().toPandas().to_dict("records")
    return ua_rows, st, co


# ------------------------------------------------------------------ runs


def _schemas():
    from pyspark.sql import types as T

    from data_stream_flink_user_address_spark.schemas import ADDRESS_SCHEMA, USER_SCHEMA

    seq = T.StructField("seq", T.LongType())
    return T.StructType(USER_SCHEMA.fields + [seq]), T.StructType(ADDRESS_SCHEMA.fields + [seq])


def _pipeline(spark, work: str):
    from data_stream_flink_user_address_spark.plans.pipeline import ReferencePipeline

    user_schema, addr_schema = _schemas()
    udir, adir = os.path.join(work, "users"), os.path.join(work, "addresses")
    os.makedirs(udir, exist_ok=True)
    os.makedirs(adir, exist_ok=True)

    pipe = ReferencePipeline(
        spark,
        spark.readStream.schema(user_schema).json(udir),
        spark.readStream.schema(addr_schema).json(adir),
        out_dir=os.path.join(work, "out"), checkpoint_dir=os.path.join(work, "ckpt"),
    )
    return pipe, udir, adir, os.path.join(work, "ckpt", "shared")


def run_paced(spark, work: str, seed: int, seconds: int, corrupt_reference: bool = False) -> dict:
    """One open-loop pass: warm-up slot, ``seconds`` paced slots, drain, check."""
    t_setup = time.time()
    slots = build_plan(seed, seconds)
    pipe, udir, adir, ckpt = _pipeline(spark, work)
    for d, name, rows in ((udir, slot_files(0)[0], slots[0]["users"]),
                          (adir, slot_files(0)[1], slots[0]["addresses"])):
        publish(d, name, rows)
    pipe.start()
    try:
        if not wait_committed(ckpt, list(slot_files(0)), time.time() + 120):
            raise RuntimeError("warm-up micro-batch did not commit")
        setup_s = time.time() - t_setup

        due: dict[int, float] = {}
        late: list[float] = []

        def generate(t0: float) -> None:
            for s in range(1, seconds + 1):
                due[s] = t0 + s
                pause = due[s] - time.time()
                if pause > 0:
                    time.sleep(pause)
                ufile, afile = slot_files(s)
                publish(udir, ufile, slots[s]["users"])
                publish(adir, afile, slots[s]["addresses"])
                late.append(max(0.0, time.time() - due[s]))

        t0 = time.time()
        gen = threading.Thread(target=generate, args=(t0,), name="loadgen")
        gen.start()
        gen.join()
        t_end = t0 + seconds
        names = [n for s in range(1, seconds + 1) for n in slot_files(s)]
        wait_committed(ckpt, names, time.time() + DRAIN_TIMEOUT_S)
        progress = [json.loads(p.json) for p in pipe.queries[0].recentProgress]
    finally:
        pipe.stop()

    file_batch, commits, starts = read_checkpoint(ckpt)
    latencies, lost = [], 0
    for s in range(1, seconds + 1):
        for name, n in zip(slot_files(s), (len(slots[s]["users"]), len(slots[s]["addresses"]))):
            b = file_batch.get(name)
            if b is None or b not in commits:
                lost += n
                continue
            latencies.extend([commits[b] - due[s]] * n)

    events_in_batch: Counter = Counter()
    files_in_batch: Counter = Counter()
    for s in range(0, seconds + 1):
        for name, n in zip(slot_files(s), (len(slots[s]["users"]), len(slots[s]["addresses"]))):
            if name in file_batch:
                events_in_batch[file_batch[name]] += n
                files_in_batch[file_batch[name]] += 1
    # committed rate: events the batches started in the window picked up,
    # over the time between the first and last of those batch starts
    window = sorted(b for b in starts if b > 0 and b in commits and t0 <= starts[b] <= t_end)
    if len(window) >= 2:
        rate = sum(events_in_batch[b] for b in window[1:]) / (starts[window[-1]] - starts[window[0]])
    else:
        rate = (sum(events_in_batch[b] for b in commits if b > 0)
                / max(1e-9, max(commits.values()) - t0))

    expected, state_bound, country_bound = reference_tables(slots)
    if corrupt_reference:
        key = next(iter(expected))
        expected[key] = dict(expected[key], userName="not-the-generated-name")
    failed_keys = check_tables(expected, state_bound, country_bound, *sink_rows(pipe))
    attempted = sum(len(s["users"]) + len(s["addresses"]) for s in slots)
    return {
        "setup_s": setup_s,
        "latencies": latencies,
        "events_per_s": rate,
        "attempted": attempted,
        "failed": min(attempted, lost + sum(failed_keys.values())),
        "t0": t0, "t_end": t_end,
        "progress": progress,
        "commits": commits, "starts": starts,
        "events_in_batch": dict(events_in_batch),
        "files_in_batch": dict(files_in_batch),
        "late_s_max": max(late) if late else 0.0,
        "ckpt": ckpt, "out_dir": os.path.join(work, "out"),
    }

