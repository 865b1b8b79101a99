"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed (numpy ``default_rng``),
so the same ``--seed`` always yields byte-identical inputs. Each also
returns what the output checks need to know (expected counts, planted
ids), so the checks never re-derive truth from the program under test.

Sizes and the reason for each (one client, ``local[4]``):

- Dashboard tables: the TPC-H-shaped star plus ``events`` with the row
  counts of ``sf0.01`` (60k lineitem rows, 10k events); the benchmark
  may read nothing outside its checkout, so it cannot use the
  ``sf0.1`` test data and writes its own tables. Paired runs of the
  five queries (one session each, third warm pass, 4 cores): 0.96-1.74 s
  a query, 6.4 s a pass at ``sf0.01`` counts; 1.37-2.04 s, 7.8 s a pass
  at ``sf0.1`` counts. The larger size costs 6 s more in the cold pass
  and 6 s more in the oracle check (its ``crash_clean_chain`` result has
  94k rows) on every run, which the benchmark's time budget cannot
  carry; the per-query cost is mostly fixed at both sizes.
- Bronze rounds: a ``HISTORY_ROWS`` backfill (round 0, untimed), then
  ``BRONZE_ROWS`` crash rows per round plus ``REDELIVER_SHARE`` of that
  again re-delivered from the previous round, with 1-3 vehicles and 0-4
  people per crash. Paired runs (4 rounds each, one session, 4 cores):
  9.0-11.0 s a round at 2k rows, 15.5-18.1 s at 22k rows. A round is
  mostly fixed cost (dozens of Spark jobs and one streaming drain), so
  rounds stay at 2k rows: a run can then time two of them, on a gold
  table that the backfill has already grown to more than twice a round.
- Corpus batches: ``DOC_BATCH`` documents and ``VEC_BATCH`` vectors per
  round against initial corpora of ``DOC_CORPUS`` / ``VEC_CORPUS``, with
  planted exact and near clones. Long documents (``DOC_WORDS`` words
  over a ``VOCAB``-word vocabulary) keep a one-word near clone far above
  the MinHash threshold and unrelated documents far below it. A round is
  ~120 Spark jobs of fixed cost (~25 s warm on 4 cores at 2 partitions),
  so the batches stay small enough for one round to fit in the traced
  ``dashboard`` run.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- dashboard tables --------------------------------------------------

# the row counts of the sf0.01 test data (see the module docstring)
N_CUSTOMER, N_SUPPLIER, N_PART = 1500, 100, 2000
N_ORDERS, N_LINEITEM, N_EVENTS = 15000, 60000, 10000
N_USERS = 150

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span_days: int, n: int):
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return base + offs.astype("timedelta64[us]")


def write_dashboard_tables(seed: int, out_dir: str) -> str:
    """Write the eight tables the dashboard queries read, one parquet
    file each (single row group, like the reference test data)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    i32 = pa.int32()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMER),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }),
        "part": pa.table({
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(_ADJ, N_PART), rng.choice(_NOUN, N_PART))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(_PART_TYPES, N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
            "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, N_ORDERS),
            "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
            "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
            "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
            "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, N_LINEITEM),
        }),
    }
    # events: microsecond timestamps over 30 days, ids in time order
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    tables["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": rng.choice(_EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
    return out_dir


# --- bronze crash rounds -----------------------------------------------

BRONZE_ROWS = 2000
HISTORY_ROWS = 5000  # round 0, the backfill every later round lands on
REDELIVER_SHARE = 0.10  # of BRONZE_ROWS, drawn from the previous round
DAYS_PER_ROUND = 7
FIRST_DAY = dt.date(2024, 1, 1)
# planted drops, as shares of a round's new rows
NULL_ID_SHARE = NULL_DATE_SHARE = OUT_OF_BOX_SHARE = 0.02
# exact full-row copies inside a round (collapse to one gold row)
DUP_ROW_SHARE = 0.02

_BOOL = ["Y", "N", "y", "yes", "1", "1.0", "true", "T", "0", "no", "garbage", None]
_WEATHER = ["CLEAR", "RAIN", "CLOUDY/OVERCAST", "SNOW", "BLOWING SNOW", "SLEET/HAIL",
            "FREEZING RAIN/DRIZZLE", "FOG/SMOKE/HAZE", "clear", None]
_CRASH_TYPE = ["NO INJURY / DRIVE AWAY", "INJURY AND / OR TOW DUE TO CRASH",
               "no injury / drive away", "REAR END", None]
_LIGHTING = ["DAYLIGHT", "DARKNESS", "DARKNESS, LIGHTED ROAD", "DAWN", "DUSK",
             "UNKNOWN", None]
_SURFACE = ["DRY", "WET", "SNOW OR SLUSH", "ICE", "UNKNOWN", "dry", None]
_TRAFFIC = ["NO CONTROLS", "TRAFFIC SIGNAL", "STOP SIGN/FLASHER", "UNKNOWN", None]
_DEFECT = ["NO DEFECTS", "RUT, HOLES", "UNKNOWN", None]
_WAY = ["NOT DIVIDED", "FOUR WAY", "DIVIDED - W/MEDIAN BARRIER", "ONE-WAY", None]
_MAKES = ["FORD", "TOYOTA", "HONDA", "CHEVROLET", "NISSAN", None]
_UNIT = ["DRIVER", "PARKED", "PEDESTRIAN", "BICYCLE", None]
_PERSON = ["DRIVER", "PASSENGER", "PEDESTRIAN", None]
_INJURY = ["NO INDICATION OF INJURY", "NONINCAPACITATING INJURY", "FATAL", None]


@dataclass
class BronzeRound:
    """One round's input rows (all strings, Socrata shape) and the
    outcome the pipeline must produce for them."""

    crashes: list[dict]  # this round's new rows (the next round re-delivers some)
    delivered: list[dict]  # what is written: new rows, copies, re-deliveries
    vehicles: list[dict]
    people: list[dict]
    n_new_valid: int  # distinct new ids that must land in gold
    max_valid_date: str  # the watermark after this round (YYYY-MM-DD)
    n_silver: int  # rows after the silver keep-first dedup


def _pick(rng, options, n):
    idx = rng.integers(0, len(options), n)
    return [options[i] for i in idx]


def _num(rng, lo, hi, n, null_share=0.05, decimals=None):
    vals = rng.uniform(lo, hi, n) if decimals is not None else rng.integers(lo, hi, n)
    out = [f"{v:.{decimals}f}" if decimals is not None else str(int(v)) for v in vals]
    nulls = rng.random(n) < null_share
    return [None if z else v for v, z in zip(out, nulls)]


def bronze_round(seed: int, r: int, previous: BronzeRound | None) -> BronzeRound:
    """Round ``r`` of the messy bronze stream. Its crash dates fall in a
    week strictly after every earlier round's, so each streaming drain
    passes the watermark filter with exactly its new rows."""
    rng = np.random.default_rng([seed, 2, r])
    n = HISTORY_ROWS if r == 0 else BRONZE_ROWS
    ids = [f"CR{seed % 10**6:06d}{r:04d}{i:06d}" for i in range(n)]
    day0 = FIRST_DAY + dt.timedelta(days=r * DAYS_PER_ROUND)
    days = rng.integers(0, DAYS_PER_ROUND, n)
    hours = rng.integers(0, 24, n)
    dates = []
    for d, h in zip(days, hours):
        stamp = f"{day0 + dt.timedelta(days=int(d))}T{int(h):02d}:{int(rng.integers(60)):02d}:00"
        dates.append(stamp + ".000" if rng.random() < 0.5 else stamp)
    lat = _num(rng, 41.65, 42.05, n, 0.03, 4)
    lng = _num(rng, -87.95, -87.55, n, 0.0, 4)
    lng = [None if a is None else b for a, b in zip(lat, lng)]  # null pairs survive P4

    kind = rng.random(n)
    null_id = kind < NULL_ID_SHARE
    null_date = (kind >= NULL_ID_SHARE) & (kind < NULL_ID_SHARE + NULL_DATE_SHARE)
    bad_box = (kind >= NULL_ID_SHARE + NULL_DATE_SHARE) & (
        kind < NULL_ID_SHARE + NULL_DATE_SHARE + OUT_OF_BOX_SHARE)
    crashes = []
    for i in range(n):
        row = {
            "crash_record_id": None if null_id[i] else ids[i],
            "crash_date": None if null_date[i] else dates[i],
            "crash_type": None,
            "latitude": "45.5" if bad_box[i] else lat[i],
            "longitude": "-93.2" if bad_box[i] else lng[i],
            "crash_hour": str(int(hours[i])),
        }
        crashes.append(row)
    cols = {
        "crash_type": _pick(rng, _CRASH_TYPE, n),
        "posted_speed_limit": _num(rng, 5, 90, n),
        "weather_condition": _pick(rng, _WEATHER, n),
        "lane_cnt": _num(rng, 1, 5, n, 0.3),
        "hit_and_run_i": _pick(rng, _BOOL, n),
        "beat_of_occurrence": _num(rng, 100, 2536, n),
        "num_units": _num(rng, 1, 14, n),
        "injuries_total": _num(rng, 0, 6, n),
        "crash_day_of_week": _num(rng, 1, 8, n),
        "traffic_control_device": _pick(rng, _TRAFFIC, n),
        "work_zone_i": _pick(rng, _BOOL, n),
        "work_zone_type": [None] * n,
        "private_property_i": _pick(rng, _BOOL, n),
        "lighting_condition": _pick(rng, _LIGHTING, n),
        "road_defect": _pick(rng, _DEFECT, n),
        "roadway_surface_cond": _pick(rng, _SURFACE, n),
        "street_direction": _pick(rng, ["N", "S", "E", "W", None], n),
        "trafficway_type": _pick(rng, _WAY, n),
        "intersection_related_i": _pick(rng, _BOOL, n),
    }
    for c, vals in cols.items():
        for row, v in zip(crashes, vals):
            row[c] = v

    valid = ~(null_id | null_date | bad_box)
    n_new_valid = int(valid.sum())
    max_valid_date = max(
        dates[i][:10] for i in range(n) if valid[i])

    # exact full-row copies of valid rows (within-round duplicates)
    dup_idx = rng.choice(np.flatnonzero(valid), int(n * DUP_ROW_SHARE), replace=False)
    delivered = crashes + [dict(crashes[i]) for i in dup_idx]
    if previous is not None:
        k = int(BRONZE_ROWS * REDELIVER_SHARE)
        pick = rng.choice(len(previous.crashes), k, replace=False)
        delivered += [dict(previous.crashes[i]) for i in pick]
    order = rng.permutation(len(delivered))
    delivered = [delivered[i] for i in order]

    silver_ids = {row["crash_record_id"] for row in delivered}
    n_silver = len(silver_ids)  # a NULL id is one keep-first group

    vehicles, people = [], []
    for i in range(n):
        for u in range(int(rng.integers(1, 4))):
            vehicles.append({
                "crash_record_id": ids[i], "unit_no": str(u + 1),
                "vehicle_id": f"V{r}{i}{u}", "unit_type": _UNIT[int(rng.integers(len(_UNIT)))],
                "make": _MAKES[int(rng.integers(len(_MAKES)))],
            })
        for p in range(int(rng.integers(0, 5))):
            people.append({
                "crash_record_id": ids[i], "person_id": f"P{r}{i}{p}",
                "person_type": _PERSON[int(rng.integers(len(_PERSON)))],
                "injury_classification": _INJURY[int(rng.integers(len(_INJURY)))],
            })
    return BronzeRound(
        crashes=crashes, delivered=delivered, vehicles=vehicles, people=people,
        n_new_valid=n_new_valid, max_valid_date=max_valid_date, n_silver=n_silver,
    )


# --- corpus batches ----------------------------------------------------

DOC_CORPUS, DOC_BATCH, DOC_WORDS, VOCAB = 500, 100, 120, 5000
VEC_CORPUS, VEC_BATCH, VEC_DIM = 500, 100, 64
# planted clones per round: of table content (exact, near), and of
# another document in the same batch (exact, near)
CORPUS_EXACT, CORPUS_NEAR, BATCH_EXACT, BATCH_NEAR = 8, 8, 4, 4
CLONE_ID_OFFSET = 500_000  # clones sort after every original of the round
NEAR_VEC_NOISE = 0.05  # cosine to the source stays above 0.998

_WORDS = np.array([f"w{i:04d}" for i in range(VOCAB)])


@dataclass
class CorpusRound:
    """One round's document and vector batches with their planted clones
    and the survivor sets each ingest round must report."""

    docs: list[tuple[int, str]]
    vecs: list[tuple[int, list[float]]]
    fresh_docs: list[tuple[int, str]]  # may be cloned by the next round
    fresh_vecs: list[tuple[int, list[float]]]
    planted_docs_exact: set[int]
    planted_docs_near: set[int]
    planted_vecs: set[int]
    minhash_survivors: set[int]
    fingerprint_survivors: set[int]
    semantic_survivors: set[int]


def _texts(rng, n: int) -> list[str]:
    return [" ".join(ws) for ws in rng.choice(_WORDS, (n, DOC_WORDS))]


def _near_text(rng, text: str) -> str:
    """Swap one middle word: 3 of ~118 word 3-shingles change, so the
    Jaccard similarity to the source stays near 0.95."""
    ws = text.split(" ")
    i = len(ws) // 2
    ws[i] = f"x{int(rng.integers(10**6)):06d}"
    return " ".join(ws)


def _unit(rng, n: int) -> np.ndarray:
    v = rng.standard_normal((n, VEC_DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _near_vec(rng, v: np.ndarray) -> np.ndarray:
    w = v + NEAR_VEC_NOISE * _unit(rng, 1)[0] * rng.uniform(0.5, 1.0)
    return (w / np.linalg.norm(w)).astype(np.float32)


def initial_corpus(seed: int) -> tuple[list[tuple[int, str]], list[tuple[int, list[float]]]]:
    """The at-rest tables' starting content (ids below the first round's)."""
    rng = np.random.default_rng([seed, 3])
    docs = list(enumerate(_texts(rng, DOC_CORPUS)))
    vecs = [(i, v.tolist()) for i, v in enumerate(_unit(rng, VEC_CORPUS))]
    return docs, vecs


def corpus_round(seed: int, r: int, sources: tuple[list, list]) -> CorpusRound:
    """Round ``r``'s batches. ``sources`` holds (docs, vecs) known to be
    in every table: the initial corpus, or the previous round's fresh
    rows, which every family keeps."""
    rng = np.random.default_rng([seed, 4, r])
    base = (r + 1) * 10**6
    src_docs, src_vecs = sources

    n_doc_fresh = DOC_BATCH - CORPUS_EXACT - CORPUS_NEAR - BATCH_EXACT - BATCH_NEAR
    fresh_docs = [(base + i, t) for i, t in enumerate(_texts(rng, n_doc_fresh))]
    clone_id = iter(range(base + CLONE_ID_OFFSET, base + 2 * CLONE_ID_OFFSET))
    exact, near = [], []
    for t in (src_docs[i][1] for i in rng.choice(len(src_docs), CORPUS_EXACT, replace=False)):
        exact.append((next(clone_id), t))
    for t in (src_docs[i][1] for i in rng.choice(len(src_docs), CORPUS_NEAR, replace=False)):
        near.append((next(clone_id), _near_text(rng, t)))
    for t in (fresh_docs[i][1] for i in rng.choice(n_doc_fresh, BATCH_EXACT, replace=False)):
        exact.append((next(clone_id), t))
    for t in (fresh_docs[i][1] for i in rng.choice(n_doc_fresh, BATCH_NEAR, replace=False)):
        near.append((next(clone_id), _near_text(rng, t)))
    docs = fresh_docs + exact + near
    docs = [docs[i] for i in rng.permutation(len(docs))]

    n_vec_fresh = VEC_BATCH - CORPUS_EXACT - CORPUS_NEAR - BATCH_EXACT - BATCH_NEAR
    fresh_arr = _unit(rng, n_vec_fresh)
    fresh_vecs = [(base + i, v.tolist()) for i, v in enumerate(fresh_arr)]
    src_arr = np.asarray([v for _, v in src_vecs], dtype=np.float32)
    planted = []
    for k, (pool, n_exact, n_near) in enumerate(
        ((src_arr, CORPUS_EXACT, CORPUS_NEAR), (fresh_arr, BATCH_EXACT, BATCH_NEAR))
    ):
        for j, i in enumerate(rng.choice(len(pool), n_exact + n_near, replace=False)):
            v = pool[i] if j < n_exact else _near_vec(rng, pool[i])
            planted.append((base + CLONE_ID_OFFSET + 1000 * (k + 1) + j, v.tolist()))
    vecs = fresh_vecs + planted
    vecs = [vecs[i] for i in rng.permutation(len(vecs))]

    fresh_doc_ids = {i for i, _ in fresh_docs}
    return CorpusRound(
        docs=docs, vecs=vecs, fresh_docs=fresh_docs, fresh_vecs=fresh_vecs,
        planted_docs_exact={i for i, _ in exact},
        planted_docs_near={i for i, _ in near},
        planted_vecs={i for i, _ in planted},
        minhash_survivors=fresh_doc_ids,
        fingerprint_survivors=fresh_doc_ids | {i for i, _ in near},
        semantic_survivors={i for i, _ in fresh_vecs},
    )


if __name__ == "__main__":  # python3 gen.py SEED OUT_DIR writes the dashboard tables
    write_dashboard_tables(int(sys.argv[1]), sys.argv[2])
