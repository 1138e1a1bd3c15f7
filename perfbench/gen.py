#!/usr/bin/env python3
"""Seeded input generators for the benchmark workloads.

Run as its own process, keyed by (workload, seed), so generating inputs
never warms the JVM that is timed:

    python3 perfbench/gen.py --workload study_portfolio --seed 7 \
        --ops 40 --out .bench_build/runs/x

Writes `<out>/inputs/...` (configs, CSV files, corpus shards), the nested
store `<out>/store/` where the workload reads one, and `<out>/manifest.json`
(the planted facts the output checks compare against, and a sha256 digest
over every generated file).
The same (workload, seed, ops) gives byte-identical inputs; `--verify`
regenerates into a temporary sibling directory and compares digests.

Only the standard library and pyarrow are used, so no graft code is involved.
"""

import argparse
import datetime as dt
import hashlib
import json
import math
import os
import random
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CLINICAL_CONFIG = os.path.join(REPO, "fixtures", "clinical_study")
CURATION_RECIPES = os.path.join(REPO, "fixtures", "curation_demo")
FIXTURE_STUDY_CODE = "DG001002003"

# The thirteen store views the clinical configuration reads, with their
# payload columns (the CSV columns after study_code, view).
VIEWS = {
    "ENROL": ["SiteGroup", "SiteNumber"],
    "IxRS": ["CentreNum", "ECode"],
    "DS": ["Subject", "DSSTDAT", "DSDECOD_STD"],
    "DEATH": ["Subject", "DTH_DAT"],
    "SURVIVE": ["Subject", "SUR_DAT", "SURSTAT_STD"],
    "HOSPAD": ["Subject", "HADMEDT", "HADMSDT"],
    "DOSEDISC": ["Subject", "IPDC_DAT", "IP_DISC_STD"],
    "CAPRXHC": ["Subject", "PageRepeatNumber", "CXSDAT", "CXEDAT", "TREATSTS",
                "CXAGNT", "CXCLASS", "CXCHERAD"],
    "EX": ["Subject", "EXSTDAT", "EXTRT"],
    "EX1": ["Subject", "EXSTDAT", "EXTRT"],
    "DOSEDISC1": ["Subject", "IPDC_DAT", "SD"],
    "DOSEDISC2": ["Subject", "IPDC_DAT", "SD"],
    "PFU": ["Subject", "PFUTYP_STD", "PFUTYPSE"],
}
VIEW_ORDER = list(VIEWS)
TREATMENTS = ["Carboplatin", "Paclitaxel", "Bevacizumab", "Durvalumab/Placebo"]
COUNTRIES = ["US", "DE", "FR", "JP", "GB", "ES", "IT", "CA"]
DEATH_CODE, LTFU_CODE, OTHER_CODE = "C28554", "C48227", "C25250"
EPOCH = dt.datetime(2019, 1, 1)

# curation corpus shape
EMB_DIM = 64
N_BENCH_VECS = 10
BLOCK_TERM = "slow"  # the term recipe.csv's BLOCKLIST FILTER names


def rng_for(seed, *keys):
    h = hashlib.sha256(repr((seed,) + keys).encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def ts(r, lo_days=0, hi_days=1500):
    return EPOCH + dt.timedelta(days=r.randint(lo_days, hi_days),
                                minutes=15 * r.randint(0, 95))


def dmy(t):
    return t.strftime("%d-%m-%Y %H:%M")


def ymd(t):
    return t.strftime("%Y-%m-%d")


def csv_field(s):
    if any(c in s for c in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def write_csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(csv_field(x) for x in r) + "\n")


def digest_tree(root):
    """sha256 over every generated file under `root` (paths and contents)."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            if d == root and not name.endswith((".csv", ".parquet")):
                continue  # manifest.json and run logs
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


# ---------------------------------------------------------------- studies

def study_config(dst, study_code):
    """The clinical configuration with its study code rewritten."""
    for d, _, files in os.walk(CLINICAL_CONFIG):
        for name in sorted(files):
            src = os.path.join(d, name)
            out = os.path.join(dst, os.path.relpath(src, CLINICAL_CONFIG))
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(src) as f:
                text = f.read()
            with open(out, "w") as f:
                f.write(text.replace(FIXTURE_STUDY_CODE, study_code))


def subject_ids(study_idx, n):
    return ["S%03d%07d" % (study_idx, i) for i in range(n)]


def view_rows(view, subjects, sites, r):
    """Rows of one view for one study. At most one DS/DEATH/SURVIVE/HOSPAD/
    DOSEDISC row per subject, so the stitched analytes stay one row per
    subject where the configuration assumes it."""
    rows = []
    if view == "ENROL":
        for s in sites:
            rows.append([r.choice(COUNTRIES), str(s)])
    elif view == "IxRS":
        for subj in subjects:
            rows.append([str(r.choice(sites)), subj])
    elif view == "DS":
        for subj in subjects:
            if r.random() < 0.3:
                code = r.choice([DEATH_CODE, LTFU_CODE, OTHER_CODE])
                rows.append([subj, dmy(ts(r)), code])
    elif view == "DEATH":
        for subj in subjects:
            if r.random() < 0.1:
                rows.append([subj, dmy(ts(r))])
    elif view == "SURVIVE":
        for subj in subjects:
            if r.random() < 0.3:
                rows.append([subj, dmy(ts(r)), r.choice(["1", "2"])])
    elif view == "HOSPAD":
        for subj in subjects:
            if r.random() < 0.2:
                a = ts(r)
                rows.append([subj, dmy(a + dt.timedelta(days=r.randint(1, 20))), dmy(a)])
    elif view == "DOSEDISC":
        for subj in subjects:
            if r.random() < 0.2:
                rows.append([subj, dmy(ts(r)), r.choice(["1", "2"])])
    elif view == "CAPRXHC":
        for subj in subjects:
            if r.random() < 0.3:
                for page in range(1, r.randint(1, 2) + 1):
                    a = ts(r)
                    rows.append([subj, str(page), ymd(a),
                                 ymd(a + dt.timedelta(days=r.randint(1, 30))),
                                 r.choice(["setA", "setB"]), "agent%d" % r.randint(1, 5),
                                 "class%d" % r.randint(1, 3), r.choice(["Yes", "No"])])
    elif view in ("EX", "EX1"):
        frac = 0.6 if view == "EX" else 0.2
        for subj in subjects:
            if r.random() < frac:
                rows.append([subj, ymd(ts(r)), r.choice(TREATMENTS)])
    elif view in ("DOSEDISC1", "DOSEDISC2"):
        frac = 0.3 if view == "DOSEDISC1" else 0.1
        for subj in subjects:
            if r.random() < frac:
                rows.append([subj, ymd(ts(r)), r.choice(TREATMENTS)])
    elif view == "PFU":
        for subj in subjects:
            if r.random() < 0.5:
                rows.append([subj, str(r.randint(1, 8)), r.choice(["Yes", "No"])])
    else:
        raise ValueError(view)
    return rows


def plant_deaths(ds_rows, death_rows, r):
    """Give some DEATH subjects a later DS death record, so the expected
    subject_death is the minimum of the two sources, not either one."""
    have_ds = {row[0] for row in ds_rows}
    for subj, dth in death_rows:
        if subj not in have_ds and r.random() < 0.3:
            later = dt.datetime.strptime(dth, "%d-%m-%Y %H:%M") + dt.timedelta(days=r.randint(1, 60))
            ds_rows.append([subj, dmy(later), DEATH_CODE])
    ds_rows.sort(key=lambda row: row[0])


def write_view(path, study_code, view, rows):
    header = ["study_code", "view"] + VIEWS[view]
    write_csv(path, header, ([study_code, view] + row for row in rows))


def study_views(study_code, study_idx, n, seed, version_of):
    """All thirteen views of one study; `version_of(view)` picks the seeded
    variant of each view (0 = the initial load)."""
    subjects = subject_ids(study_idx, n)
    n_sites = max(2, n // 40)
    sites = [101 + i for i in range(n_sites)]
    out = {}
    for view in VIEW_ORDER:
        r = rng_for(seed, study_code, view, version_of(view))
        out[view] = view_rows(view, subjects, sites, r)
    # the DS/DEATH pair is planted together so the minimum is known
    r = rng_for(seed, study_code, "plant", version_of("DS"), version_of("DEATH"))
    plant_deaths(out["DS"], out["DEATH"], r)
    return out


def log_uniform_sizes(count, lo_exp, hi_exp):
    """Subject counts log-uniform over [10^lo_exp, 10^hi_exp]: the midpoints of
    `count` equal slices in log10, so every seed refreshes the same sizes
    (only the data are seeded) and runs compare."""
    return [int(round(10 ** (lo_exp + (hi_exp - lo_exp) * (i + 0.5) / count)))
            for i in range(count)]


def write_store_view(out, study_code, view, rows):
    """One (study_code, view) document of the nested store, in the layout
    NestedStore.nest + partitionBy write: one row whose `data` column is the
    sorted array of the view's rows as structs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = VIEWS[view]
    typ = pa.list_(pa.struct([(c, pa.string()) for c in cols]))
    docs = [dict(zip(cols, r)) for r in sorted(rows)]
    d = os.path.join(out, "store", "study_code=" + study_code, "view=" + view)
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table({"data": pa.array([docs], typ)}),
                   os.path.join(d, "part-00000.snappy.parquet"), compression="snappy")


def planted_deaths(ds_rows, death_rows):
    """subject -> 'YYYY-MM-DD HH:MM:SS': the earliest of the DS death record
    (DSDECOD_STD = C28554) and the DEATH record, as the refresh must give it."""
    out = {}
    for subj, when in ([r[0], r[1]] for r in ds_rows if r[2] == DEATH_CODE):
        t = dt.datetime.strptime(when, "%d-%m-%Y %H:%M")
        out[subj] = min(out.get(subj, t), t)
    for subj, when in death_rows:
        t = dt.datetime.strptime(when, "%d-%m-%Y %H:%M")
        out[subj] = min(out.get(subj, t), t)
    return {k: v.strftime("%Y-%m-%d %H:%M:%S") for k, v in sorted(out.items())}


def gen_study_portfolio(out, seed, ops):
    """One study per operation, sizes log-uniform over 10^2..10^4.5, plus an
    untimed 200-subject warm-up study. Every study's thirteen views are in
    the store; each operation also has an arriving CSV file holding a new
    version of one seeded view of its study.

    Studies run smallest first, the same order for every seed: the first
    timed operation pays about a second more than a later one would, so
    with a seeded order the run's maximum latency depended on whether the
    largest study came first, splitting the seeds into two groups."""
    r = rng_for(seed, "portfolio")
    sizes = log_uniform_sizes(ops, 2.0, 4.5)
    inputs = os.path.join(out, "inputs")
    op_list = []
    for j, idx in enumerate(list(range(ops)) + [None]):
        # the last study is the untimed warm-up, refreshed before the clock
        code = "PB%02d%04d" % (seed % 100, idx) if idx is not None else "PBWARMUP0"
        k = idx if idx is not None else 999
        n = sizes[idx] if idx is not None else 200
        study_config(os.path.join(inputs, "config", code), code)
        live = study_views(code, k, n, seed, lambda v: 0)
        for view, rows in live.items():
            write_store_view(out, code, view, rows)
        # the arriving version replaces only its own view in the store
        arriving = r.choice(VIEW_ORDER)
        new = study_views(code, k, n, seed, lambda v, a=arriving: 1 if v == a else 0)
        live[arriving] = new[arriving]
        path = os.path.join(inputs, "arriving", "%s_%s.csv" % (arriving, code))
        write_view(path, code, arriving, live[arriving])
        op_list.append({"op": j, "study_code": code, "idx": k, "subjects": n,
                        "rows": n, "view": arriving, "file": os.path.relpath(path, out),
                        "file_rows": len(live[arriving]), "bytes": os.path.getsize(path),
                        "deaths": planted_deaths(live["DS"], live["DEATH"])})
    return {"ops": op_list[:ops], "warmup": op_list[ops]}


# ----------------------------------------------------------------- corpus

def make_vocab(r, n):
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words = set()
    while len(words) < n:
        w = "".join(r.choice(cons) + r.choice(vows) for _ in range(r.randint(2, 4)))
        if r.random() < 0.5:
            w += r.choice(cons)
        if w not in (BLOCK_TERM, "the", "a"):
            words.add(w)
    return sorted(words)


def doc_text(r, vocab, n_words):
    words = [r.choice(vocab) for _ in range(n_words)]
    for _ in range(max(2, n_words // 12)):
        words[r.randrange(n_words)] = r.choice(["the", "a"])
    words[0], words[1] = "the", "a"
    return words


def shingles(words, k=3):
    if len(words) < k:
        return {" ".join(words)}
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def unit(r, dim):
    v = [r.gauss(0, 1) for _ in range(dim)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def gen_curation_corpus(out, seed, ops, docs_per_shard=1600):
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = rng_for(seed, "corpus")
    vocab = make_vocab(rng_for(seed, "vocab"), 4000)
    bench = [unit(r, EMB_DIM) for _ in range(N_BENCH_VECS)]
    inputs = os.path.join(out, "inputs")
    os.makedirs(os.path.join(inputs, "shards"), exist_ok=True)
    recipes = ["recipe.csv", "recipe_v2.csv", "recipe_near.csv"]
    os.makedirs(os.path.join(inputs, "recipes"), exist_ok=True)
    for name in recipes[:2]:
        shutil.copyfile(os.path.join(CURATION_RECIPES, name),
                        os.path.join(inputs, "recipes", name))
    shutil.copyfile(os.path.join(HERE, "recipe_near.csv"),
                    os.path.join(inputs, "recipes", "recipe_near.csv"))
    pq.write_table(pa.table({"doc_id": pa.array(list(range(N_BENCH_VECS)), pa.int64()),
                             "embedding": pa.array(bench, pa.list_(pa.float64()))}),
                   os.path.join(inputs, "bench.parquet"))

    n_shards = ops + 1  # the last shard feeds the untimed warm-up op
    next_id = 1000
    shards = []
    for s in range(n_shards):
        rs = rng_for(seed, "shard", s)
        ids, texts, sources, planted = [], [], [], {
            "exact_groups": [], "near_families": [], "blocklisted": [],
            "pii": [], "contaminated": [], "low_quality": []}
        embs = []

        def add(words, emb=None, source=None):
            nonlocal next_id
            next_id += 1 + rs.randrange(3)
            ids.append(next_id)
            texts.append(" ".join(words))
            sources.append(source or "src%d" % rs.randrange(4))
            embs.append(emb or unit(rs, EMB_DIM))
            return next_id

        for _ in range(docs_per_shard):
            add(doc_text(rs, vocab, rs.randint(60, 160)))
        for _ in range(docs_per_shard // 80):   # exact-duplicate groups
            words = doc_text(rs, vocab, rs.randint(60, 160))
            planted["exact_groups"].append([add(words) for _ in range(rs.randint(2, 4))])
        for _ in range(docs_per_shard // 80):   # near-duplicate families, J >= 0.9
            base = doc_text(rs, vocab, rs.randint(120, 160))
            members = [base]
            for _ in range(rs.randint(1, 3)):
                v = list(base)
                i = rs.randrange(2, len(v))
                v[i] = rs.choice(vocab)
                members.append(v)
            j = min(jaccard(a, b) for i, a in enumerate(members) for b in members[i + 1:])
            if j < 0.9 or len({" ".join(m) for m in members}) < len(members):
                continue
            planted["near_families"].append({"ids": [add(m) for m in members],
                                             "min_jaccard": round(j, 6)})
        for _ in range(docs_per_shard // 100):  # blocklisted
            words = doc_text(rs, vocab, rs.randint(60, 160))
            words[rs.randrange(2, len(words))] = rs.choice([BLOCK_TERM, BLOCK_TERM.capitalize()])
            planted["blocklisted"].append(add(words))
        for _ in range(docs_per_shard // 100):  # PII
            words = doc_text(rs, vocab, rs.randint(60, 160))
            words[rs.randrange(2, len(words))] = "%s@%s.com" % (rs.choice(vocab), rs.choice(vocab))
            words[rs.randrange(2, len(words))] = "https://%s.org/%s" % (rs.choice(vocab), rs.choice(vocab))
            planted["pii"].append(add(words))
        for _ in range(docs_per_shard // 100):  # close to a bench vector
            b = rs.choice(bench)
            noisy = [x + rs.gauss(0, 0.02) for x in b]
            n = math.sqrt(sum(x * x for x in noisy))
            planted["contaminated"].append(
                add(doc_text(rs, vocab, rs.randint(60, 160)), [x / n for x in noisy]))
        for _ in range(docs_per_shard // 100):  # fail the quality battery
            planted["low_quality"].append(add(doc_text(rs, vocab, rs.randint(10, 40))))
        # shuffle row order (ids stay as assigned)
        perm = list(range(len(ids)))
        rs.shuffle(perm)
        ttr = []
        for t in texts:
            w = t.split(" ")
            ttr.append(len(set(w)) / len(w))
        table = pa.table({
            "doc_id": pa.array([ids[i] for i in perm], pa.int64()),
            "source": pa.array([sources[i] for i in perm], pa.string()),
            "text": pa.array([texts[i] for i in perm], pa.string()),
            "embedding": pa.array([embs[i] for i in perm], pa.list_(pa.float64())),
            "ttr": pa.array([ttr[i] for i in perm], pa.float64()),
        })
        path = os.path.join(inputs, "shards", "shard_%03d.parquet" % s)
        pq.write_table(table, path)
        shards.append({"shard": s, "file": os.path.relpath(path, out), "docs": len(ids),
                       "planted": planted})
    # every run holds the same mix in the same order: the three recipes in
    # turn (the shards are seeded), so runs of different seeds compare
    op_list = []
    for j in range(ops + 1):
        recipe = recipes[j % 3] if j < ops else "recipe_near.csv"
        op_list.append({"op": j, "shard": j, "file": shards[j]["file"],
                        "recipe": os.path.join("inputs", "recipes", recipe),
                        "rows": shards[j]["docs"]})
    return {"ops": op_list[:ops], "warmup": op_list[ops], "shards": shards,
            "bench": os.path.join("inputs", "bench.parquet"), "block_term": BLOCK_TERM}


GENERATORS = {
    "study_portfolio": gen_study_portfolio,
    "curation_corpus": gen_curation_corpus,
}


def generate(workload, seed, ops, out):
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    manifest = GENERATORS[workload](out, seed, ops)
    manifest.update({"workload": workload, "seed": seed, "n_ops": ops,
                     "digest": digest_tree(out)})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ops", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--verify", action="store_true",
                    help="generate twice and require identical digests")
    a = ap.parse_args(argv)
    m = generate(a.workload, a.seed, a.ops, a.out)
    if a.verify:
        again = a.out.rstrip("/") + ".verify"
        m2 = generate(a.workload, a.seed, a.ops, again)
        shutil.rmtree(again)
        if m2["digest"] != m["digest"]:
            print("digest mismatch: %s != %s" % (m["digest"], m2["digest"]), file=sys.stderr)
            return 1
    print(m["digest"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
