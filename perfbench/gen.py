"""Seeded input generator for the ETL workloads.

The engine only ever sees the files written here: a JSON array primary
(the S3 object of the reference job) and a parquet secondary (the RDS
table). Everything is drawn from one numpy generator seeded by the
benchmark's ``--seed``, so the same seed gives byte-identical inputs.

Primary cells carry the payload shapes a JSON reader has to survive:
nulls and bare ``NaN`` tokens (which Spark's and DuckDB's JSON readers
both take as a double) in the columns shared with the secondary, duplicate
keys, missing keys inside a record, and strings holding escaped quotes,
braces, brackets, commas and non-ASCII text (raw UTF-8 and ``\\uXXXX``
escapes). Strings never hold backslashes, newlines, leading or trailing
blanks, or the empty string, so the CSV the engine lands can be read
back unambiguously by the reference check.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Columns of the primary, in the order its records list them (id, name
# and score are shared with the secondary). The engine infers the
# primary's schema, as the deployed job does, and sorts it by name.
PRIMARY_COLUMNS = [("id", "BIGINT"), ("name", "VARCHAR"), ("score", "DOUBLE"),
                   ("note", "VARCHAR"), ("qty", "BIGINT"), ("tags", "VARCHAR")]
SECONDARY_COLUMNS = [("id", "BIGINT"), ("name", "VARCHAR"), ("score", "DOUBLE"),
                     ("region", "VARCHAR"), ("tier", "BIGINT")]

# Sizes per workload. etl_bulk: a large primary against a small,
# key-unique secondary (the reference job's shape). etl_enrich: a small
# primary against a large secondary with skewed duplicate counts, about
# half of the primary keys without a match.
SHAPES = {
    "etl_bulk": {"primary_rows": 200_000, "primary_keys": 180_000,
                 "secondary_keys": 20_000, "shared_keys": 18_000,
                 "hot_keys": 0, "hot_rows": 0, "max_dups": 1},
    "etl_enrich": {"primary_rows": 40_000, "primary_keys": 36_000,
                   "secondary_keys": 400_000, "shared_keys": 18_000,
                   "hot_keys": 24, "hot_rows": 40_000, "max_dups": 3},
    # toy sizes for the self-test
    "etl_bulk_toy": {"primary_rows": 3_000, "primary_keys": 2_700,
                     "secondary_keys": 300, "shared_keys": 270,
                     "hot_keys": 0, "hot_rows": 0, "max_dups": 1},
    "etl_enrich_toy": {"primary_rows": 800, "primary_keys": 700,
                       "secondary_keys": 4_000, "shared_keys": 350,
                       "hot_keys": 2, "hot_rows": 200, "max_dups": 3},
}

WORDS = ["alpha", "Zürich", "東京", "café", "naïve", "Ωmega", "São Paulo",
         "Kraków", "Ärger", "北京", "señor", "delta", "echo", "Ελλάδα"]
# str.format templates: {n} and {m} take numbers, {{ and }} are braces
NOTES = ['say "hi" to {n}', "brace {{k: {n}}}", "bracket [{n}, {m}]",
         "comma, separated, {n}", "quote \"{n}\" and [x]", "plain note {n}",
         "emoji 🚀 {n}", "mixed {{\"a\": [{n}]}}", "ümlaut ßtraße {n}",
         "semi;colon {m}"]


def _names(rng, n):
    """Secondary names: a word and a number, as in the primary."""
    picks, nums = rng.integers(0, len(WORDS), n), rng.integers(0, 10_000, n)
    return [f"{WORDS[i]} {x}" for i, x in zip(picks, nums)]


def _secondary_dups(rng, shape, keys):
    """Rows per secondary key: 1..max_dups for most keys, thousands for
    a few hot keys."""
    dups = rng.integers(1, shape["max_dups"] + 1, len(keys))
    if shape["hot_keys"]:
        hot = rng.choice(len(keys), shape["hot_keys"], replace=False)
        dups[hot] = shape["hot_rows"]
    return dups


def generate(workload, seed, out_dir):
    """Writes primary.json and secondary.parquet under out_dir and
    returns the realized input properties."""
    shape = SHAPES[workload]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # Key space: distinct keys drawn from a sparse range. The primary
    # takes shared_keys of the secondary's keys and the rest from keys
    # the secondary never has.
    n_pk, n_sk, n_match = shape["primary_keys"], shape["secondary_keys"], shape["shared_keys"]
    space = rng.permutation(4 * (n_pk + n_sk))
    sec_keys = space[:n_sk]
    pkeys = np.concatenate([rng.choice(sec_keys, n_match, replace=False),
                            space[n_sk:n_sk + n_pk - n_match]])
    # duplicate primary keys: every primary key once, the surplus rows
    # repeat random keys
    n = shape["primary_rows"]
    pid = np.concatenate([pkeys, rng.choice(pkeys, n - len(pkeys))])
    rng.shuffle(pid)

    name_pick, name_num = rng.integers(0, len(WORDS), n), rng.integers(0, 10_000, n)
    name_null = rng.random(n) < 0.15
    score = np.round(rng.uniform(-1e4, 1e6, n), 2)
    u = rng.random(n)
    score_null, score_nan = u < 0.10, (u >= 0.10) & (u < 0.15)
    note_pick = rng.integers(0, len(NOTES), n)
    note_a, note_b = rng.integers(0, 10_000, n), rng.integers(0, 100, n)
    qty = rng.integers(-1_000_000, 1_000_000, n)
    tag_a, tag_b = rng.integers(0, 50, n), rng.integers(0, 50, n)
    tags_missing = rng.random(n) < 0.10
    ascii_escape = rng.random(n) < 0.25

    # JSON-encode the pools once per escaping style; numbers never need
    # escaping, so they are formatted into the encoded text
    enc_words = {ea: [json.dumps(w, ensure_ascii=ea)[:-1] + ' {}"' for w in WORDS]
                 for ea in (False, True)}
    enc_notes = {ea: [json.dumps(t, ensure_ascii=ea) for t in NOTES] for ea in (False, True)}
    parts = []
    for i in range(n):
        ea = bool(ascii_escape[i])
        nm = "null" if name_null[i] else enc_words[ea][name_pick[i]].format(name_num[i])
        if score_null[i]:
            sc = "null"
        elif score_nan[i]:
            sc = "NaN"
        else:
            sc = repr(float(score[i]))
        note = enc_notes[ea][note_pick[i]].format(n=note_a[i], m=note_b[i])
        rec = f'{{"id": {pid[i]}, "name": {nm}, "score": {sc}, "note": {note}, "qty": {qty[i]}'
        if not tags_missing[i]:
            rec += f', "tags": "[t{tag_a[i]}, {{t{tag_b[i]}}}]"'
        parts.append(rec + "}")
    primary_path = os.path.join(out_dir, "primary.json")
    with open(primary_path, "w", encoding="utf-8") as f:
        f.write("[\n")
        f.write(",\n".join(parts))
        f.write("\n]\n")

    dups = _secondary_dups(rng, shape, sec_keys)
    sid = np.repeat(sec_keys, dups)
    m = len(sid)
    sscore = np.round(rng.uniform(0, 1e5, m), 2)
    sscore[rng.random(m) < 0.02] = np.nan
    sname = np.array(_names(rng, m), dtype=object)
    sname[rng.random(m) < 0.05] = None
    regions = np.array(["eu-west", "us-east", "ap-north", "sa-east"], dtype=object)[
        rng.integers(0, 4, m)]
    tier = rng.integers(0, 5, m)
    order = rng.permutation(m)
    table = pa.table({
        "id": pa.array(sid[order], pa.int64()),
        "name": pa.array(sname[order], pa.string()),
        "score": pa.array(sscore[order], pa.float64()),
        "region": pa.array(regions[order], pa.string()),
        "tier": pa.array(tier[order], pa.int64()),
    })
    secondary_path = os.path.join(out_dir, "secondary.parquet")
    # several row groups, so the secondary scan is not capped at one task
    pq.write_table(table, secondary_path, row_group_size=max(1, m // 8))

    pk_set = set(pid.tolist())
    unmatched_rows = int(sum(int(d) for k, d in zip(sec_keys, dups) if k not in pk_set))
    return {
        "workload": workload, "seed": seed,
        "primary_rows": n, "primary_bytes": os.path.getsize(primary_path),
        "primary_distinct_keys": len(pk_set),
        "primary_duplicate_share": round(1 - len(pk_set) / n, 6),
        "primary_name_null_share": round(float(name_null.mean()), 6),
        "primary_score_null_share": round(float(score_null.mean()), 6),
        "primary_score_nan_share": round(float(score_nan.mean()), 6),
        "primary_keys_matched": int(np.isin(pkeys, sec_keys).sum()),
        "secondary_rows": m, "secondary_keys": n_sk,
        "secondary_bytes": os.path.getsize(secondary_path),
        "secondary_max_dups": int(dups.max()),
        "unmatched_rows": unmatched_rows,
    }
