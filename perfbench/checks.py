"""Output checks, computed outside the engine with DuckDB, and the
mapping from what the JVM measured to the metrics run.py prints."""
import hashlib
from pathlib import Path

import duckdb

import gen

# The landed CSV's columns: the primary's as Spark infers them (sorted
# by name), then the secondary-only ones in the secondary's order.
OUT_COLUMNS = sorted(gen.PRIMARY_COLUMNS) + [
    c for c in gen.SECONDARY_COLUMNS if c[0] not in dict(gen.PRIMARY_COLUMNS)]


def csv_line_hash(path):
    """Order-independent digest of a file's lines: the sum (mod 2^64) of
    the first 8 bytes of each line's MD5, and the line count (the same
    digest Etl.csvLineHash computes in the JVM)."""
    data = Path(path).read_bytes()
    lines = data.split(b"\n")
    if lines and lines[-1] == b"":
        lines.pop()
    total = 0
    for ln in lines:
        total += int.from_bytes(hashlib.md5(ln).digest()[:8], "big")
    return str(total % (1 << 64)), len(lines)


def _columns(cols):
    return "{" + ", ".join(f"'{n}': '{t}'" for n, t in cols) + "}"


def reference_sql(inputs):
    """The coalesce merge of MergeQueries.coalesceOracle, over the
    generated files: first secondary match by ascending non-key columns
    (nulls last), primary value unless null or NaN; columns in the
    landed CSV's order."""
    p = f"read_json('{inputs}/primary.json', format='array', columns={_columns(gen.PRIMARY_COLUMNS)})"
    s = f"read_parquet('{inputs}/secondary.parquet')"
    out = {"id": "p.id", "name": "COALESCE(p.name, s.name) AS name",
           "score": "COALESCE(p.score, s.score) AS score", "note": "p.note", "qty": "p.qty",
           "tags": "p.tags", "region": "s.region", "tier": "s.tier"}
    return f"""
    WITH p AS (SELECT id, name, CASE WHEN isnan(score) THEN NULL ELSE score END AS score,
                      note, qty, tags FROM {p}),
    s0 AS (SELECT id, name, CASE WHEN isnan(score) THEN NULL ELSE score END AS score,
                  region, tier FROM {s}),
    s AS (SELECT id, name, score, region, tier FROM (
            SELECT s0.*, row_number() OVER (PARTITION BY id ORDER BY name ASC NULLS LAST,
                   score ASC NULLS LAST, region ASC NULLS LAST, tier ASC NULLS LAST) AS rn
            FROM s0) t WHERE rn = 1)
    SELECT {", ".join(out[n] for n, _ in OUT_COLUMNS)}
    FROM p LEFT JOIN s ON p.id = s.id"""


def csv_mismatches(csv_path, inputs):
    """Rows of the landed CSV that differ from the reference, counted
    both ways (a multiset compare); column order is checked on the
    header."""
    with open(csv_path, encoding="utf-8") as f:
        header = f.readline().rstrip("\n")
    if header != ",".join(n for n, _ in OUT_COLUMNS):
        return 1, f"header {header!r}"
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(f"""CREATE TEMP TABLE got AS SELECT * FROM read_csv('{csv_path}',
        header=true, auto_detect=false, delim=',', quote='"', escape='\\',
        columns={_columns(OUT_COLUMNS)})""")
    con.execute(f"CREATE TEMP TABLE exp AS {reference_sql(inputs)}")
    n_got, n_exp, extra, missing = con.execute("""SELECT
        (SELECT count(*) FROM got), (SELECT count(*) FROM exp),
        (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM exp)),
        (SELECT count(*) FROM (SELECT * FROM exp EXCEPT ALL SELECT * FROM got))""").fetchone()
    con.close()
    bad = extra + missing
    return bad, f"landed CSV: {n_got} rows, reference {n_exp}, {extra} unexpected, {missing} missing"


def check_etl(res, props, inputs):
    """Failed operations of an ETL run: a run fails when the pipeline
    returned an error, its row counts differ from the generator's, or
    its landed CSV differs from the DuckDB reference (every run's CSV is
    compared by digest with the last one, which is checked in full)."""
    notes = []
    landed = res["landed_csv"]
    digest, lines = csv_line_hash(landed)
    bad, note = csv_mismatches(landed, inputs)
    notes.append(note)
    failed = 0
    for i, op in enumerate(res["ops"]):
        why = []
        if not op["ok"]:
            why.append(op["error"])
        if op["merged_rows"] != props["primary_rows"]:
            why.append(f"merged_rows {op['merged_rows']} != {props['primary_rows']}")
        if op["unmatched_rows"] != props["unmatched_rows"]:
            why.append(f"unmatched_rows {op['unmatched_rows']} != {props['unmatched_rows']}")
        if (op["csv_hash"], op["csv_lines"]) != (digest, lines):
            why.append("landed CSV differs from the checked one")
        elif bad:
            why.append("landed CSV differs from the reference")
        if why:
            failed += 1
            notes.append(f"run {i}: " + "; ".join(why))
    return failed, notes


def pick(values, metrics):
    """The named metrics (a BENCHMARK.json list) from measured values,
    as {name: {"value", "unit"}}; a metric that was not measured is an
    error, not a gap in the output."""
    out = {}
    for m in metrics:
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
    return out
