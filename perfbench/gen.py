"""Seeded inputs and independently computed expected outputs.

    python3 perfbench/gen.py --workload <name> --seed <n>

writes ``.perfbench_work/inputs/<name>-s<n>/`` under the current directory
(the checkout root) and prints that path. A finished directory is reused:
the same seed always gives byte-identical files. Expected outputs never
come from the code under test:

- transcript turns and conversations: the pure-Python reference model
  ``oracle.extract`` / ``oracle.concat_conversation``;
- PDF pages: the text this generator wrote;
- dedup pairs: DuckDB, running the SQL twins of the dedup queries.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import random
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pdfgen  # noqa: E402

WORK = ".perfbench_work"
KEEP_SEEDS = 6  # cached input sets kept per workload

# The workloads' amounts are fixed; the seed only draws the content and its
# order, so every seed gives the same amount and mix of work.
SIZES = {
    # short conversations of the fixture family mix, plus a tail of long ones
    "turns_pipeline": {"short_turns": (20, 100), "convs": 90, "long_convs": 2,
                       "long_turns": 2000, "resume_share": 0.1},
    # small documents; the /Parent-cycle ones do not depend on the seed
    "pdf_docs": {"pages": 12, "lines": (20, 40), "cycle_docs": 12,
                 "dialect_docs": {"simple": 790, "xrefstm": 338, "type0": 60}},
    # traced pdf_docs runs only: one document for the chunked path
    "pdf_huge": {"pages": 20000, "lines": (6, 12)},
    # traced turns_pipeline runs only: the dedup queries' documents
    "dedup_pairs": {"docs": 1000, "words": (8, 100), "dup_share": 0.2},
}

# dedup vocabulary, the shape of the reference documents table
DEDUP_WORDS = (
    "a the data spark scan sort hash join group agg filter window order "
    "table column row batch stream query key value part line vector merge "
    "fast slow big small customer order region event page token index shard"
).split()


def input_dir(workload: str, seed: int) -> str:
    return os.path.join(WORK, "inputs", f"{workload}-s{seed}")


# ------------------------------------------------------------ transcripts --

def _turn_chunk(args):
    """(conv_id, conv_no, n_turns) list -> rows + oracle expectations."""
    from pdf_parse_new_spark import fixtures, oracle

    rows, exp = [], []
    for cid, cno, n in args:
        for t in range(n):
            row = fixtures.turn_row(cid, cno, t)
            ex = oracle.extract(row[3])
            rows.append(row)
            exp.append((cid, t, ex.family, ex.text, ex.error,
                        json.dumps(ex.spans), ex.n_pages))
    return rows, exp


def gen_turns(out: str, seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parse_new_spark import oracle

    cfg = SIZES["turns_pipeline"]
    rng = random.Random(f"turns:{seed}")
    lo, hi = cfg["short_turns"]
    sizes = [lo + i * (hi - lo) // (cfg["convs"] - 1) for i in range(cfg["convs"])]
    rng.shuffle(sizes)
    convs = [(f"s{seed}-c{i:04d}", i, n) for i, n in enumerate(sizes)]
    convs += [(f"s{seed}-long{j}", cfg["convs"] + j, cfg["long_turns"])
              for j in range(cfg["long_convs"])]
    # the resumed share: short conversations missing from the base commit
    target = cfg["resume_share"] * sum(n for _, _, n in convs)
    new_ids, new_turns = set(), 0
    for cid, _, n in rng.sample(convs[: cfg["convs"]], cfg["convs"]):
        if new_turns >= target:
            break
        new_ids.add(cid)
        new_turns += n

    ctx = multiprocessing.get_context("spawn")
    chunks = [convs[k::4] for k in range(4)]
    pool = ctx.Pool(4)
    try:
        parts = pool.map(_turn_chunk, chunks)
    finally:
        pool.close()
        pool.join()
    rows = [r for p in parts for r in p[0]]
    exp = [e for p in parts for e in p[1]]
    rows.sort(key=lambda r: (r[0], r[1]))
    exp.sort(key=lambda e: (e[0], e[1]))

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    os.makedirs(os.path.join(out, "transcripts"))
    for kind in ("base", "new"):
        sel = [r for r in rows if (r[0] in new_ids) == (kind == "new")]
        for k in range(4):
            part = sel[k::4]
            cols = list(zip(*part))
            table = pa.table(
                [pa.array(cols[0]), pa.array(cols[1], pa.int32()),
                 pa.array(cols[2]), pa.array(cols[3]), pa.array(cols[4]),
                 pa.array([t * 1_000_000 for t in cols[5]],
                          pa.timestamp("us", tz="UTC"))],
                schema=schema,
            )
            pq.write_table(table, os.path.join(
                out, "transcripts", f"part-{kind}-{k}.parquet"))

    ecols = list(zip(*exp))
    pq.write_table(pa.table({
        "conv_id": pa.array(ecols[0]), "turn_idx": pa.array(ecols[1], pa.int32()),
        "family": pa.array(ecols[2]), "text": pa.array(ecols[3]),
        "error": pa.array(ecols[4], pa.string()), "spans": pa.array(ecols[5]),
        "n_pages": pa.array(ecols[6], pa.int32()),
    }), os.path.join(out, "expected_turns.parquet"))

    by_conv: dict[str, list] = {}
    for cid, t, _fam, text, err, _sp, _np in exp:
        by_conv.setdefault(cid, []).append((t, text, err))
    conv_rows = []
    for cid in sorted(by_conv):
        turns = sorted(by_conv[cid])
        body, n, k = oracle.concat_conversation([x for _, x, _ in turns])
        conv_rows.append((cid, body, n, k, sum(e is not None for *_, e in turns)))
    ccols = list(zip(*conv_rows))
    pq.write_table(pa.table({
        "conv_id": pa.array(ccols[0]), "full_text": pa.array(ccols[1]),
        "n_turns": pa.array(ccols[2], pa.int32()),
        "n_extracted": pa.array(ccols[3], pa.int32()),
        "n_errors": pa.array(ccols[4], pa.int64()),
    }), os.path.join(out, "expected_convs.parquet"))
    return {"turns": len(rows), "turns_resumed": new_turns,
            "convs": len(convs), "new_convs": sorted(new_ids)}


# -------------------------------------------------------------------- PDF --

def doc_pages(rng: random.Random, n_pages: int, lines: tuple) -> list:
    return [pdfgen.page_lines(rng, rng.randint(*lines)) for _ in range(n_pages)]


def gen_pdf_docs(out: str, seed: int) -> dict:
    cfg = SIZES["pdf_docs"]
    rng = random.Random(f"pdf_docs:{seed}")
    plan = []
    for dialect, k in cfg["dialect_docs"].items():
        counts = [1 + i % cfg["pages"] for i in range(k)]
        rng.shuffle(counts)
        plan += [(dialect, n) for n in counts]
    rng.shuffle(plan)
    docs = [(f"d{i:05d}.pdf", dialect, doc_pages(rng, n, cfg["lines"]))
            for i, (dialect, n) in enumerate(plan)]
    # the /Parent-cycle documents do not depend on the seed, so every run
    # fails exactly the same share of operations
    crng = random.Random("pdf_docs:cycle")
    for i in range(cfg["cycle_docs"]):
        docs.append((f"cycle{i:02d}.pdf", "cycle",
                     doc_pages(crng, crng.randint(1, 3), cfg["lines"])))
    os.makedirs(os.path.join(out, "docs"))
    expected = {}
    for name, dialect, pages in docs:
        with open(os.path.join(out, "docs", name), "wb") as f:
            f.write(pdfgen.build(dialect, pages))
        expected[name] = {"dialect": dialect,
                          "pages": ["\n".join(p) for p in pages]}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
    n_pages = sum(len(p) for _, _, p in docs)
    return {"docs": len(docs), "pages": n_pages,
            "pages_type0": sum(len(p) for _, d, p in docs if d == "type0"),
            "docs_cycle": cfg["cycle_docs"]}


# ------------------------------------------------------------------ dedup --

def gen_dedup(out: str, seed: int) -> dict:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parse_new_spark import queries

    cfg = SIZES["dedup_pairs"]
    rng = random.Random(f"dedup:{seed}")
    texts: list[list[str]] = []
    for i in range(cfg["docs"]):
        if texts and rng.random() < cfg["dup_share"]:
            # a near-duplicate of an earlier document: a few words swapped
            # (Jaccard from about 0.5 to 1.0) or a truncated copy
            # (containment 1.0)
            words = list(rng.choice(texts))
            if rng.random() < 0.25 and len(words) > 12:
                words = words[: int(len(words) * rng.uniform(0.6, 0.95))]
            else:
                for _ in range(rng.choice((0, 1, 1, 2, 3, 5, 8))):
                    words[rng.randrange(len(words))] = rng.choice(DEDUP_WORDS)
        else:
            words = [rng.choice(DEDUP_WORDS)
                     for _ in range(rng.randint(*cfg["words"]))]
        texts.append(words)
    docs = [" ".join(w) for w in texts]
    table = pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": pa.array(docs),
        "lang": pa.array(["en" if i % 3 else "zh" for i in range(len(docs))]),
        "source": pa.array([f"src{i % 5}" for i in range(len(docs))]),
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    path = os.path.join(out, "documents.parquet")
    pq.write_table(table, path)

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        jac = con.execute(queries.SQL_JACCARD_PAIRS).fetchall()
        cont = con.execute(queries.SQL_CONTAINMENT_PAIRS).fetchall()
        simh = con.execute(queries.SQL_SIMHASH_MD5).fetchall()
        # MinHash pairs are checked against the exact Jaccard over the
        # shingles of the MinHash twin, through a token join (the twin's
        # own all-pairs form is quadratic)
        sh_cte = queries.SQL_MINHASH_PAIRS.split("SELECT a.doc_id")[0]
        minh = con.execute(sh_cte + """,
        tok AS (SELECT doc_id, unnest(s) AS t FROM sh),
        sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
          FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id1, id2, round(i / (na.n + nb.n - i), 6) AS jaccard
        FROM inter JOIN sz na ON na.doc_id = id1 JOIN sz nb ON nb.doc_id = id2
        WHERE i / (na.n + nb.n - i) >= 0.9 ORDER BY id1, id2""").fetchall()
    finally:
        con.close()
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"jaccard": jac, "containment": cont, "minhash": minh,
                   "simhash": simh}, f)
    return {"docs": len(docs), "pairs.jaccard": len(jac),
            "pairs.containment": len(cont), "pairs.minhash": len(minh)}


GENERATORS = {
    "turns_pipeline": gen_turns,
    "pdf_docs": gen_pdf_docs,
    "dedup_pairs": gen_dedup,
}


def ensure(workload: str, seed: int) -> str:
    """Generate the inputs of (workload, seed) unless already cached."""
    final = input_dir(workload, seed)
    if os.path.exists(os.path.join(final, "meta.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[workload](tmp, seed)
    meta["seed"] = seed
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    _evict(workload, keep=final)
    return final


def _evict(workload: str, keep: str) -> None:
    root = os.path.join(WORK, "inputs")
    mine = [os.path.join(root, d) for d in os.listdir(root)
            if d.startswith(f"{workload}-s") and ".tmp" not in d]
    mine.sort(key=os.path.getmtime)
    for d in mine[:-KEEP_SEEDS]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    print(ensure(args.workload, args.seed))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
