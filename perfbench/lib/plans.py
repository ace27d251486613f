"""Seeded workload plans: which operations a run executes, in what order,
on which generated inputs. The program only ever sees these inputs."""
import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The registry panel, frozen: the median member of each of 12 strata of
# the batch registry by the seconds in registry_ref.json (lightest stratum
# first), then the median streaming drain. It was chosen once with
# stats.stratified_panel (tests/test_stats.py checks that it still
# reproduces) and is never recomputed, so removing or renaming other
# queries leaves the workload unchanged.
PANEL = ["q_topk_global", "text_pii_audit", "text_quality", "q_semi_join", "q_count_distinct",
         "emb_cluster_assign", "q_rollup", "q_stats_corr", "q_cms_merge", "q_shuffle_shard",
         "q_span_mass", "dedup_span_keep_list"]
DRAINS = ["q_sessionize_stream"]


def registry(listing):
    """The registry workload: PANEL then DRAINS, each run once, in this
    order for every seed; the seed sets only the data. The first queries
    of a fresh JVM pay its first executions of many operators (up to 1.6 s
    extra on a query of 1.4 s), and a seeded order moved that cost between
    queries enough to shift the median query wall by up to 40 % between
    seeds. A panel query the program no longer registers is an error."""
    missing = [n for n in PANEL + DRAINS if n not in set(listing["queries"])]
    if missing:
        raise SystemExit(f"registry panel queries not registered: {', '.join(missing)}")
    return {"queries": PANEL + DRAINS, "drains": DRAINS}


# --- etl-loopback -----------------------------------------------------------

TODAY = dt.date(2024, 7, 1)
BRANDS = 200
TAG_KEYS = ["Campaign", "Franchise", "Region", "Product Line", "Season", "Channel",
            "Market", "Audience Segment", "Format", "Talent"]
TAG_VALUES = ["holiday", "retail", "north", "south", "launch", "promo", "evergreen",
              "spring", "summer", "tv", "social", "core", "kids", "live"]
CONFIGS_PER_TRIGGER = 4
# One trigger each, in this order: the first creates the tables, the second
# replaces them, the third appends to them with the tag columns its brands
# bring, so the final tables hold two loads under an evolved schema.
DISPOSITIONS = ["WRITE_APPEND", "WRITE_TRUNCATE", "WRITE_APPEND"]
CORPUS_ROWS = 24000
PAGE_SIZE = 2000
FAIL_PCT = 3


def _tags(rng):
    out = []
    for _ in range(rng.randint(1, 4)):
        if rng.random() < 0.1:
            out.append(f"note-{rng.randint(1, 99)}")
        else:
            out.append(f"{rng.choice(TAG_KEYS)}: {rng.choice(TAG_VALUES)}")
    return out


def etl(seed, inputs_dir):
    """Stub corpus, brand dimension and one trigger per DISPOSITIONS entry,
    all posted. Config ids repeat across triggers, so tables are appended
    to and truncated in turn, and the tag keys a trigger's brands carry
    change the pivoted schema."""
    rng = random.Random(seed)
    os.makedirs(inputs_dir, exist_ok=True)
    start = dt.date(2024, 1, 1)
    corpus = os.path.join(inputs_dir, "corpus.csv")
    with open(corpus, "w") as f:
        for _ in range(CORPUS_ROWS):
            day = start + dt.timedelta(days=rng.randrange(180))
            f.write(f"{rng.randrange(BRANDS)},{day.isoformat()},{rng.randrange(50000) / 100}\n")
    unauthorized = set(rng.sample(range(BRANDS), BRANDS // 20))
    dim = pa.table({
        "brand_key": pa.array(range(BRANDS), pa.int64()),
        "lfm.brand.name": ["unauthorized" if b in unauthorized else f"Brand {b}" for b in range(BRANDS)],
        "lfm.content.tags": pa.array([_tags(rng) for _ in range(BRANDS)], pa.list_(pa.string())),
        "lfm.content.posted_on_datetime": [
            f"2024-{rng.randint(1, 6):02d}-{rng.randint(1, 28):02d} {rng.randint(0, 23):02d}:15:00"
            for _ in range(BRANDS)]})
    dim_path = os.path.join(inputs_dir, "brands.parquet")
    pq.write_table(dim, dim_path)
    authorized = [b for b in range(BRANDS) if b not in unauthorized]
    triggers = []
    for disposition in DISPOSITIONS:
        doc = {}
        for c in range(CONFIGS_PER_TRIGGER):
            brands = sorted(rng.sample(authorized, 3) + rng.sample(range(BRANDS), rng.randint(1, 9)))
            brands = sorted(set(brands))
            if c % 2 == 0:
                meta = {"lfm.brand.name": "string"} if c % 4 == 0 else {}
                doc[f"cfg{c:02d}"] = {
                    "dataset_id": "dataset_brand_metrics",
                    "metrics": {"sum:lfm.metric": "float64", "count:lfm.metric": "int64"},
                    "group_by": {"lfm.brand_view.id": "int64", "lfm.fact.date_str": "datetime64[ns]"},
                    "meta_dimensions": meta, "brands": brands}
            else:
                doc[f"cfg{c:02d}"] = {
                    "dataset_id": "dataset_content_metrics",
                    "metrics": {"sum:lfm.metric": "float64", "max:lfm.metric": "float64"},
                    "group_by": {"lfm.brand_view.id": "int64"},
                    "meta_dimensions": {"lfm.brand.name": "string", "lfm.content.tags": "string",
                                        "lfm.content.posted_on_datetime": "datetime64[ns]"},
                    "brands": brands}
        body = {"reports_filter": None,
                "start_date": f"{{{{nDaysAgo {rng.randint(40, 160)}}}}}",
                "end_date": f"{{{{nDaysAgo {rng.randint(1, 10)}}}}}"}
        triggers.append({"configs": json.dumps(doc), "body": json.dumps(body),
                         "disposition": disposition})
    return {"corpus": corpus, "dim": dim_path, "page_size": PAGE_SIZE, "seed": seed,
            "fail_pct": FAIL_PCT, "today": TODAY.isoformat(), "triggers": triggers}
