"""Output checks. They read what the program wrote with pyarrow and DuckDB
and compare it with the generator's manifest and source files; no graft
code runs here.

Each `check_<workload>` returns (failures, info): failures maps an
operation id to a one-line reason, info carries figures derived from the
outputs (space amplification inputs, funnel counts)."""

import csv
import glob
import hashlib
import os
import re

import duckdb
import pyarrow.parquet as pq

import gen

EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+")
URL = re.compile(r"https?://[A-Za-z0-9./_%?&=-]+")


def read_csv(path):
    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    return rows[0], rows[1:]


def csv_bytes(con, files):
    """Bytes of the rows in these parquet files written as plain CSV."""
    if not files:
        return 0
    src = "read_parquet(%r, union_by_name = true)" % files
    cols = [r[0] for r in con.execute("DESCRIBE SELECT * FROM " + src).fetchall()]
    expr = "concat_ws(',', %s)" % ", ".join('CAST("%s" AS VARCHAR)' % c for c in cols)
    return con.execute("SELECT coalesce(sum(length(%s) + 1), 0) FROM %s" % (expr, src)).fetchone()[0]


# ------------------------------------------------------------ study refresh

def check_refresh(out_dir, subjects, deaths):
    """None if the standardized output in `out_dir` is right, else a reason.
    `deaths` maps subject -> the planted subject_death."""
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return "no standardized output"
    t = pq.ParquetDataset(files).read(columns=["subject", "Retention"]).to_pylist()
    got = {r["subject"] for r in t}
    if got != set(subjects):
        return "subjects differ: %d refreshed, %d generated, %d in common" % (
            len(got), len(subjects), len(got & set(subjects)))
    for r in t:
        ret = dict(r["Retention"])
        if ret.get("subject_death") != deaths.get(r["subject"], "Null"):
            return "subject_death of %s is %r, planted %r" % (
                r["subject"], ret.get("subject_death"), deaths.get(r["subject"], "Null"))
    return None


def check_export(run_dir, files, src_csv, code, view):
    """None if the exported parquet holds exactly the arriving file's rows."""
    if not files:
        return "no export files"
    hdr, rows = read_csv(src_csv)
    payload = hdr[2:]
    t = pq.ParquetDataset([os.path.join(run_dir, f) for f in files]).read().to_pydict()
    if any(v != code for v in t["study_code"]) or any(v != view for v in t["view"]):
        return "export keys differ"
    missing = [c for c in payload if c not in t]
    if missing:
        return "export lacks columns %s" % missing
    got = sorted(zip(*(t[c] for c in payload)))
    want = sorted(tuple(r[2:]) for r in rows)
    if got != want:
        return "export rows differ: %d exported, %d ingested" % (len(got), len(want))
    return None


def check_study_portfolio(run_dir, manifest, result):
    failures = {}
    files = []
    for o in result["ops"]:
        if not o["ok"]:
            continue
        spec = manifest["ops"][o["op"]]
        code = spec["study_code"]
        out = os.path.join(run_dir, "out_store", "study_code=" + code, "view=standardized")
        why = (check_refresh(out, gen.subject_ids(spec["idx"], spec["subjects"]), spec["deaths"])
               or check_export(run_dir, o.get("export_files", []),
                               os.path.join(run_dir, spec["file"]), code, spec["view"]))
        if why:
            failures[o["op"]] = why
        files += sorted(glob.glob(os.path.join(out, "*.parquet")))
    info = {"disk_bytes": sum(os.path.getsize(f) for f in files),
            "user_bytes": csv_bytes(duckdb.connect(), files)}
    return failures, info


# ---------------------------------------------------------------- curation

def recipe_ops(path):
    hdr, rows = read_csv(path)
    i = hdr.index("op")
    return [r[i].strip().upper() for r in rows]


def recipe_csv_sql(shard):
    """recipe.csv replayed in DuckDB: the Gopher battery with stop words
    the,a; no token equal (case-blind) to 'slow'; keep the lowest doc_id per
    md5(text); bucket = first 15 hex digits of md5(doc_id) mod 100."""
    return """
    WITH base AS (
      SELECT doc_id, source, text, string_split(text, ' ') AS w,
             string_split(text, chr(10)) AS l
      FROM read_parquet('{shard}')),
    sig AS (
      SELECT *, len(w) AS n,
        CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE) / len(w) AS mwl,
        CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(w) AS alpha,
        (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
          + (length(text) - length(replace(text, '...', ''))) / 3) / len(w) AS sym,
        CAST(len(list_filter(l, x -> substr(x, 1, 1) IN ('-', '*', '•'))) AS DOUBLE) / len(l) AS bullets,
        CAST(len(list_filter(l, x -> ends_with(x, '...') OR ends_with(x, '…'))) AS DOUBLE) / len(l) AS ell,
        len(list_filter(list_distinct(list_transform(w, t -> lower(t))),
                        t -> t IN ('the', 'a'))) AS stops
      FROM base),
    kept AS (
      SELECT doc_id, source, text, w FROM sig
      WHERE n BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0 AND sym <= 0.1
        AND bullets <= 0.9 AND ell <= 0.3 AND alpha > 0.8 AND stops >= 2
        AND NOT list_contains(list_transform(w, t -> lower(t)), 'slow')),
    dedup AS (
      SELECT doc_id, source FROM kept
      QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)
    SELECT doc_id, source,
      CASE WHEN b < 5 THEN 'val' WHEN b < 10 THEN 'test' ELSE 'train' END AS split
    FROM (SELECT doc_id, source,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
          FROM dedup)
    """.replace("{shard}", shard)


def check_curation_corpus(run_dir, manifest, result):
    con = duckdb.connect()
    shards = {s["shard"]: s for s in manifest["shards"]}
    failures = {}
    out_files = []
    for o in result["ops"]:
        if not o["ok"]:
            continue
        spec = manifest["ops"][o["op"]]
        why = check_curated(con, run_dir, spec, shards[spec["shard"]], o["output"])
        if why:
            failures[o["op"]] = why
        out_files += sorted(glob.glob(os.path.join(run_dir, o["output"], "*.parquet")))
    info = {"disk_bytes": sum(os.path.getsize(f) for f in out_files),
            "user_bytes": csv_bytes(con, out_files)}
    return failures, info


def check_curated(con, run_dir, spec, shard, output):
    files = sorted(glob.glob(os.path.join(run_dir, output, "*.parquet")))
    if not files:
        return "no curated output"
    stages = recipe_ops(os.path.join(run_dir, spec["recipe"]))
    t = pq.ParquetDataset(files).read().to_pydict()
    ids = t["doc_id"]
    survivors = set(ids)
    if len(survivors) != len(ids):
        return "duplicate doc_id in output"
    src = pq.read_table(os.path.join(run_dir, spec["file"]), columns=["doc_id"]).column(0).to_pylist()
    if not survivors <= set(src):
        return "output holds ids that are not in the shard"
    planted = shard["planted"]
    if "EXACT DEDUP" in stages:
        digests = [hashlib.md5(x.encode()).hexdigest() for x in t["text"]]
        if len(set(digests)) != len(digests):
            return "two curated documents share md5(text)"
    if "BLOCKLIST FILTER" in stages:
        hit = survivors & set(planted["blocklisted"])
        if hit:
            return "%d blocklisted documents survived" % len(hit)
    if any(s.startswith("NEAR DEDUP") for s in stages):
        for fam in planted["near_families"]:
            if len(survivors & set(fam["ids"])) > 1:
                return "near-duplicate family %s (J >= %.3f) has %d survivors" % (
                    fam["ids"], fam["min_jaccard"], len(survivors & set(fam["ids"])))
    if "PII REDACT" in stages:
        if any(EMAIL.search(x) or URL.search(x) for x in t["text"]):
            return "an e-mail address or URL survived PII REDACT"
    if "SEMANTIC DECONTAM" in stages:
        hit = survivors & set(planted["contaminated"])
        if hit:
            return "%d documents near a bench vector survived" % len(hit)
    if os.path.basename(spec["recipe"]) == "recipe.csv":
        want = sorted(con.execute(recipe_csv_sql(os.path.join(run_dir, spec["file"]))).fetchall())
        got = sorted(zip(ids, t["source"], t["split"]))
        if got != want:
            return "recipe.csv output differs from DuckDB: %d rows vs %d, %d in common" % (
                len(got), len(want), len(set(got) & set(want)))
    return None


CHECKS = {
    "study_portfolio": check_study_portfolio,
    "curation_corpus": check_curation_corpus,
}
