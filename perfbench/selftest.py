"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py [--seed N]

Run from the root of a checkout. Checks that

1. the same seed gives byte-identical inputs and expected outputs;
2. each workload's check passes its own expected outputs and counts one
   failed operation when one character of one output row is changed;
3. the metric names and units ``run.py`` prints are exactly those of
   ``BENCHMARK.json``: one short run of the cheapest workload with
   ``--trace 0``, and one of every workload with ``--trace 1``;
4. ``run.py`` exits non-zero, printing no result, in a directory that holds
   only ``BENCHMARK.json`` and the benchmark's own files.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(".perfbench_work", "selftest")


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def check_deterministic(seed: int) -> dict[str, str]:
    """Generate every workload twice; returns the first copies' paths."""
    import gen

    dirs = {}
    for name, fn in gen.GENERATORS.items():
        pair = []
        for k in (0, 1):
            d = os.path.join(WORK, f"{name}-{k}")
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            meta = fn(d, seed)
            meta["seed"] = seed
            with open(os.path.join(d, "meta.json"), "w") as f:
                json.dump(meta, f, sort_keys=True)
            pair.append(d)
        assert _same_tree(*pair), f"{name}: seed {seed} gave different inputs"
        dirs[name] = pair[0]
        print(f"selftest: {name} inputs are byte-identical for seed {seed}")
    return dirs


def _mutate(s: str) -> str:
    return ("x" if s[:1] != "x" else "y") + s[1:]


def _turns_outputs(inputs: str, out: str, mutate: bool) -> dict:
    """Write the expected turns as the base and resume snapshots, and the
    expected conversations, in the program's output layout."""
    meta = json.load(open(os.path.join(inputs, "meta.json")))
    new = set(meta["new_convs"])
    exp = pq.read_table(os.path.join(inputs, "expected_turns.parquet")).to_pylist()
    span_t = pa.list_(pa.struct([("start", pa.int32()), ("end", pa.int32()),
                                 ("kind", pa.string())]))
    dirs = {}
    for kind in ("base", "resume"):
        rows = [r for r in exp if (r["conv_id"] in new) == (kind == "resume")]
        if mutate and kind == "base":
            rows[0] = dict(rows[0], text=_mutate(rows[0]["text"]))
        d = os.path.join(out, f"data-{kind}")
        os.makedirs(d)
        pq.write_table(pa.table({
            "conv_id": [r["conv_id"] for r in rows],
            "turn_idx": pa.array([r["turn_idx"] for r in rows], pa.int32()),
            "family": [r["family"] for r in rows],
            "extracted_text": [r["text"] for r in rows],
            "error": pa.array([r["error"] for r in rows], pa.string()),
            "spans": pa.array([[{"start": s, "end": e, "kind": k}
                                for s, e, k in json.loads(r["spans"])]
                               for r in rows], span_t),
            "n_pages": pa.array([r["n_pages"] for r in rows], pa.int32()),
        }), os.path.join(d, "part-0.parquet"))
        dirs[kind] = {"data_dirs": [d]}
    os.makedirs(os.path.join(out, "conversations"))
    shutil.copyfile(os.path.join(inputs, "expected_convs.parquet"),
                    os.path.join(out, "conversations", "part-0.parquet"))
    stats: dict[str, dict] = {}
    for r in exp:
        s = stats.setdefault(r["family"], {"family": r["family"], "n": 0,
                                           "n_errors": 0})
        s["n"] += 1
        s["n_errors"] += r["error"] is not None
    dirs["stats"] = list(stats.values())
    return dirs


def _pdf_outputs(wl, mutate: bool) -> list[dict]:
    import pdfgen

    rows = []
    for name in sorted(wl.expected):
        want = wl.expected[name]
        text = pdfgen.expected_text(want["pages"])
        spans, off = [], 0
        for i, page in enumerate(want["pages"], 1):
            off += 2
            spans.append({"page": i, "start": off, "end": off + len(page)})
            off += len(page)
        rows.append({"doc_id": os.path.join(wl.docdir, name), "text": text,
                     "n_pages": len(want["pages"]), "n_render": len(want["pages"]),
                     "info": json.dumps(pdfgen.info_dict(want["dialect"])),
                     "error": None, "page_spans": spans})
    if mutate:
        t = rows[0]["text"]
        rows[0]["text"] = t[:2] + _mutate(t[2:])
    return rows


def _dedup_outputs(inputs: str, mutate: bool) -> dict:
    exp = json.load(open(os.path.join(inputs, "expected.json")))
    out = {k: [tuple(r) for r in rows] for k, rows in exp.items()}
    if mutate:
        doc, hexs, bucket = out["simhash"][0]
        out["simhash"][0] = (doc, _mutate(hexs), bucket)
    return out


def check_mutation(dirs: dict[str, str]) -> None:
    import workloads

    tr = workloads.Tracer(False)
    for name, inputs in dirs.items():
        scratch = os.path.abspath(os.path.join(WORK, f"{name}-out"))
        if name == "dedup_pairs":
            wl = workloads.DedupPairs(None, inputs, tr)
        else:
            wl = workloads.WORKLOADS[name](None, inputs, scratch, tr)
        failed = []
        for mutate in (False, True):
            shutil.rmtree(scratch, ignore_errors=True)
            os.makedirs(scratch)
            if name == "turns_pipeline":
                out, state = _turns_outputs(inputs, scratch, mutate), scratch
            elif name == "pdf_docs":
                out, state = _pdf_outputs(wl, mutate), None
            else:
                out, state = _dedup_outputs(inputs, mutate), None
            attempted, f, broken = wl.check(state, out)
            assert not broken, f"{name}: {broken}"
            failed.append(f)
        assert failed == [0, 1], f"{name}: failed counts {failed}, want [0, 1]"
        print(f"selftest: {name} check counts one mutated character as one "
              f"failed operation of {attempted}")


def check_metric_names(seed: int) -> None:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    runs = [("pdf_docs", 0)] + [(w["name"], 1) for w in bench["workloads"]]
    for workload, trace in runs:
        key = "per_layer" if trace else "end_to_end"
        want = {m["name"]: m["unit"] for m in bench[key]}
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
            check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        ).stdout.strip().splitlines()[-1]
        res = json.loads(out)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want, f"--trace {trace}: printed {got}, declared {want}"
        assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
        print(f"selftest: {workload} --trace {trace} prints exactly the "
              f"{len(want)} {key} metrics of BENCHMARK.json")


def check_refuses_bare_dir() -> None:
    bare = os.path.abspath(os.path.join(WORK, "bare"))
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copyfile("BENCHMARK.json", os.path.join(bare, "BENCHMARK.json"))
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pdf_docs", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=180,
    )
    shutil.rmtree(bare)
    assert res.returncode != 0 and not res.stdout.strip(), (res.returncode, res.stdout)
    print("selftest: without the program, run.py exits "
          f"{res.returncode} and prints no result")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    os.makedirs(WORK, exist_ok=True)
    dirs = check_deterministic(args.seed)
    check_mutation(dirs)
    check_refuses_bare_dir()
    check_metric_names(args.seed)
    shutil.rmtree(WORK)
    print("selftest: all passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
