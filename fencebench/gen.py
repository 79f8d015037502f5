"""Seeded input generator with ground truth, independent of the engine.

Plain Python and pyarrow only: nothing here imports ``fences_spark`` or
pyspark, so the truth it records cannot inherit an engine defect.  The
benchmark runs it in its own process before the Spark session starts,
so its memory never shows in the measured peak RSS.

Usage::

    python3 fencebench/gen.py --workload files_bulk --seed 7 --out DIR

writes the workload's parquet inputs and ``truth.json`` into ``DIR``.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are fixed per workload: every run of a workload does the same
# work, so a metric never depends on the seed beyond the data itself.
FILES_ROWS = 60_000
POLL_ROWS = 2_000
POLL_HISTORY = 2  # snapshots committed by the first warm-up polls
POLL_SLICES = POLL_HISTORY + 1  # the last slice is replayed by every timed batch
CURATE_DOCS = 3_000

LANGS = ["python", "java", "c", "go", "rust", "js", "other"]
FILES_RULES = ["repo_format", "path_nonempty", "commit_sha", "lang_enum",
               "content_present"]
POLL_RULES = ["doc_flat", "tree_strict"]
DEFECT_RATE = 0.01  # per rule, independently, so rows can break several rules

_ALNUM = "abcdefghijklmnopqrstuvwxyz0123456789"
_STOP = ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"]


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(zlib.crc32(workload.encode()) * 1_000_003 + seed)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# files_bulk: the north-rule files table
# ---------------------------------------------------------------------------
def files_bulk(seed: int, out: str, n_rows: int = FILES_ROWS) -> dict:
    rng = _rng("files_bulk", seed)
    base = "".join(rng.choice(_ALNUM + " \n") for _ in range(1 << 15))
    cols = {k: [] for k in ("repo", "path", "commit", "lang", "content")}
    fails = {r: 0 for r in FILES_RULES}
    violations = []
    for i in range(n_rows):
        bad = {r for r in FILES_RULES if rng.random() < DEFECT_RATE}
        repo = f"org{rng.randrange(50)}/repo-{rng.randrange(500)}.x"
        if "repo_format" in bad:
            repo = repo.replace("/", " /")
        depth = rng.randrange(1, 5)
        path = "/".join(f"d{rng.randrange(20)}" for _ in range(depth)) + f"/f_{i}.py"
        if "path_nonempty" in bad:
            path = "" if rng.random() < 0.5 else path.replace("/", " ", 1)
        commit = "%040x" % rng.getrandbits(160)
        if "commit_sha" in bad:
            commit = "G" + commit[1:]
        lang = rng.choice(LANGS)
        if "lang_enum" in bad:
            lang = "cobol"
        if "content_present" in bad:
            content = ""
        else:
            # lengths log-uniform from 10 B to 10 KB
            n = int(round(10 ** rng.uniform(1.0, 4.0)))
            off = rng.randrange(len(base) - n)
            content = base[off:off + n]
        for k, v in zip(cols, (repo, path, commit, lang, content)):
            cols[k].append(v)
        sha = hashlib.sha256(content.encode()).hexdigest()
        for r in sorted(bad):
            fails[r] += 1
            violations.append([repo, path, commit, r, sha])
    _write(pa.table(cols), os.path.join(out, "files.parquet"))
    violations.sort()
    return {
        "workload": "files_bulk",
        "rows": n_rows,
        "rule_fail": fails,
        "rows_invalid": len({(v[0], v[1], v[2]) for v in violations}),
        "violations": violations,
    }


# ---------------------------------------------------------------------------
# json_poll: slices of JSON documents appended to a snapshot-log table
# ---------------------------------------------------------------------------
def _tree(rng: random.Random, depth: int) -> dict:
    node: dict = {"data": rng.randrange(1000)}
    if depth > 0:
        node["children"] = [_tree(rng, depth - 1) for _ in range(rng.randrange(3))]
    return node


def _break_tree(rng: random.Random, node: dict) -> dict:
    """A defect below the root: only dynamic recursion rejects it."""
    leaf = node
    while leaf.get("children"):
        leaf = rng.choice(leaf["children"])
    if rng.random() < 0.5:
        leaf["daat"] = leaf.pop("data")  # misspelled key, unevaluated
    else:
        leaf["data"] = "x"  # wrong type
    return node


def json_poll(seed: int, out: str, n_rows: int = POLL_ROWS,
              n_slices: int = POLL_SLICES) -> dict:
    rng = _rng("json_poll", seed)
    seen: set[str] = set()
    slices = []
    pool: list[str] = []  # every document text so far, replay candidates
    bad_docs: set[str] = set()
    for s in range(n_slices):
        cols = {k: [] for k in ("doc_id", "repo", "path", "doc", "tree")}
        fails = {r: 0 for r in POLL_RULES}
        violations = []
        first_id: dict[str, int] = {}
        for j in range(n_rows):
            i = s * n_rows + j
            repo = f"org{rng.randrange(20)}/feed"
            path = f"docs/{i}.json"
            bad = {r for r in POLL_RULES if rng.random() < DEFECT_RATE}
            if pool and rng.random() < 0.05:
                doc = rng.choice(pool)  # planted replay
                bad_doc = doc in bad_docs
            else:
                d = {"id": i, "name": f"n{rng.randrange(10**6)}",
                     "tags": [f"t{rng.randrange(9)}" for _ in range(rng.randrange(4))]}
                bad_doc = "doc_flat" in bad
                if bad_doc:
                    kind = rng.randrange(4)
                    if kind == 0:
                        del d["name"]
                    elif kind == 1:
                        d["name"] = ""
                    elif kind == 2:
                        d["id"] = str(d["id"])
                    else:
                        d["tags"].append(7)
                doc = json.dumps(d, sort_keys=True)
                if bad_doc:
                    bad_docs.add(doc)
                pool.append(doc)
            tree = _tree(rng, rng.randrange(1, 4))
            if "tree_strict" in bad:
                tree = _break_tree(rng, tree)
            row_bad = (["doc_flat"] if bad_doc else []) + (
                ["tree_strict"] if "tree_strict" in bad else [])
            for r in row_bad:
                fails[r] += 1
                violations.append([repo, path, r])
            for k, v in zip(cols, (i, repo, path, doc, json.dumps(tree))):
                cols[k].append(v)
            first_id.setdefault(doc, i)
        survivors = sorted(v for d, v in first_id.items() if d not in seen)
        seen.update(first_id)
        _write(pa.table(cols, schema=_POLL_SCHEMA),
               os.path.join(out, f"slice_{s:03d}.parquet"))
        violations.sort()
        slices.append({"rows": n_rows, "rule_fail": fails,
                       "violations": violations, "survivors": survivors})
    return {"workload": "json_poll", "history": n_slices - 1, "slices": slices}


_POLL_SCHEMA = pa.schema([("doc_id", pa.int64()), ("repo", pa.string()),
                          ("path", pa.string()), ("doc", pa.string()),
                          ("tree", pa.string())])


# ---------------------------------------------------------------------------
# curate_pipeline: a text corpus for run_pipeline
# ---------------------------------------------------------------------------
def curate_pipeline(seed: int, out: str, n_docs: int = CURATE_DOCS) -> dict:
    rng = _rng("curate_pipeline", seed)
    vocab = sorted({"".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                            for _ in range(rng.randrange(3, 9)))
                    for _ in range(4000)})
    texts: list[str] = []
    cols = {"doc_id": [], "text": [], "stratum": []}
    invalid = []
    for i in range(n_docs):
        u = rng.random()
        if u < 0.02:
            text = ""
            invalid.append(i)
        elif u < 0.06 and texts:
            text = rng.choice(texts)  # exact duplicate
        elif u < 0.10 and texts:
            words = rng.choice(texts).split(" ")
            words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)  # near duplicate
        elif u < 0.13:
            text = " ".join("!?;" * rng.randrange(1, 4) for _ in range(rng.randrange(5, 40)))
        else:
            n = int(math.exp(rng.uniform(math.log(30), math.log(400))))
            text = " ".join(rng.choice(_STOP) if rng.random() < 0.3 else rng.choice(vocab)
                            for _ in range(n))
        if text:
            texts.append(text)
        cols["doc_id"].append(i)
        cols["text"].append(text)
        cols["stratum"].append(f"s{rng.randrange(5)}")
    _write(pa.table(cols, schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                                            ("stratum", pa.string())])),
           os.path.join(out, "docs.parquet"))
    return {"workload": "curate_pipeline", "input_docs": n_docs,
            "valid_docs": n_docs - len(invalid), "invalid_ids": invalid}


GENERATORS = {"files_bulk": files_bulk, "json_poll": json_poll,
              "curate_pipeline": curate_pipeline}


def generate(workload: str, seed: int, out: str, **sizes) -> dict:
    """Write the workload's inputs and truth.json into ``out``; ``sizes``
    override the benchmark's fixed sizes (tests use small ones)."""
    os.makedirs(out, exist_ok=True)
    truth = GENERATORS[workload](seed, out, **sizes)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.workload, args.seed, args.out)


if __name__ == "__main__":
    main()
