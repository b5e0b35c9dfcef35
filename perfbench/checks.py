"""Output checks: each compares what the program wrote against the
generator's truth. A wrong answer counts as a failed operation."""

import glob
import json
import os

import gen


def _read_sink(out_dir):
    """The `key - [value]` lines of a `TextCorpus.writeFormatted` sink."""
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    if not parts:
        raise ValueError(f"no part files in {out_dir}")
    rows = []
    for p in parts:
        with open(p, encoding="utf-8") as f:
            for line in f:
                key, sep, rest = line.rstrip("\n").partition(" - [")
                if not sep or not rest.endswith("]"):
                    raise ValueError(f"malformed sink line {line!r}")
                rows.append((key, rest[:-1]))
    return rows


def check_wordcount(out_dir, truth):
    """Counts sum to the generated token count and every word's count
    matches the generator's. Returns the counts read."""
    rows = _read_sink(out_dir)
    counts = {key: int(value) for key, value in rows}
    if [k for k, _ in rows] != sorted(counts):
        raise ValueError("word count output is not sorted by word with one line per word")
    total = sum(counts.values())
    if total != truth["tokens"]:
        raise ValueError(f"counts sum to {total}, generated {truth['tokens']} tokens")
    if counts != truth["counts"]:
        bad = sorted(w for w in set(counts) | set(truth["counts"])
                     if counts.get(w) != truth["counts"].get(w))
        raise ValueError(f"{len(bad)} words counted wrong, e.g. {bad[:3]}")
    return counts


def check_index(out_dir, counts):
    """Every word's posting counts sum to its word count."""
    seen = set()
    for key, value in _read_sink(out_dir):
        postings = json.loads(value)
        if sum(postings.values()) != counts.get(key):
            raise ValueError(f"postings of {key!r} sum to {sum(postings.values())}, "
                             f"word count says {counts.get(key)}")
        seen.add(key)
    if seen != set(counts):
        raise ValueError(f"index has {len(seen)} words, word count {len(counts)}")


def check_mapreduce(out_dir, truth, iterations):
    failures = []
    for it in iterations:
        d = os.path.join(out_dir, f"iter-{it['index']}")
        try:
            counts = check_wordcount(os.path.join(d, "wc"), truth)
        except (ValueError, OSError) as e:
            failures.append(f"iter {it['index']} wc: {e}")
            counts = truth["counts"]
        try:
            check_index(os.path.join(d, "id"), counts)
        except (ValueError, OSError) as e:
            failures.append(f"iter {it['index']} id: {e}")
    return 2 * len(iterations), failures


def check_kept(path, truth):
    """No planted exact copy survives cleaning, every fresh original does
    (a cluster keeps its smallest id, and a copy comes after its original),
    and the kept count lies between the fresh count and the docs left once
    exact copies and junk are gone. Returns the kept count."""
    with open(path, encoding="utf-8") as f:
        kept = {int(line) for line in f if line.strip()}
    survivors = kept.intersection(truth["exact_copies"])
    if survivors:
        raise ValueError(f"{len(survivors)} planted exact copies kept, "
                         f"e.g. {sorted(survivors)[:3]}")
    lost = set(truth["fresh"]) - kept
    if lost:
        raise ValueError(f"{len(lost)} fresh originals dropped, e.g. {sorted(lost)[:3]}")
    most = truth["docs"] - len(truth["exact_copies"]) - truth["junk"]
    if not len(truth["fresh"]) <= len(kept) <= most:
        raise ValueError(f"{len(kept)} docs kept, expected {len(truth['fresh'])} to {most}")
    return len(kept)


def check_dedup(out_dir, truth, iterations):
    failures, kept_counts = [], set()
    for it in iterations:
        try:
            kept_counts.add(check_kept(
                os.path.join(out_dir, f"iter-{it['index']}", "kept.txt"), truth))
        except (ValueError, OSError) as e:
            failures.append(f"iter {it['index']} clean: {e}")
    if len(kept_counts) > 1:
        failures.append(f"kept count differs between iterations: {sorted(kept_counts)}")
    return len(iterations), failures


def _read_tsv_rows(lines):
    return [[int(i), int(n), text] for i, n, text in (line.split("\t", 2) for line in lines)]


def read_selects(path):
    """{op: rows} from a `reads.tsv`: a `#<op><TAB><rows>` header, then the
    select's rows as `doc_id<TAB>n_tokens<TAB>text`."""
    with open(path, encoding="utf-8") as f:
        lines = f.read().splitlines()
    out, i = {}, 0
    while i < len(lines):
        op, n = lines[i][1:].split("\t")
        out[op] = _read_tsv_rows(lines[i + 1:i + 1 + int(n)])
        i += 1 + int(n)
    return out


def check_lake(out_dir, truth, result):
    """Every timed select returned the model's rows; after the last cycle
    the table's content hash equals the model's. Every statement of a timed
    cycle and the final content each count as one operation."""
    iterations = [it for it in result["iterations"] if not it.get("error")]
    failures = []
    for it in iterations:
        try:
            got = read_selects(os.path.join(out_dir, f"iter-{it['index']}", "reads.tsv"))
            for op in (str(o["op"]) for o in it["ops"] if o["kind"] not in gen.LAKE_WRITES):
                if got.get(op) != truth["reads"][op]:
                    failures.append(f"iter {it['index']} select {op}: {len(got.get(op) or [])} "
                                    f"rows, the model has {len(truth['reads'][op])}")
        except (ValueError, OSError) as e:
            failures.append(f"iter {it['index']} reads: {e}")
    attempted = len(iterations) * truth["statements_per_cycle"] + 1
    try:
        with open(os.path.join(out_dir, "final.tsv"), encoding="utf-8") as f:
            rows = _read_tsv_rows(f.read().splitlines())
        want = truth["hashes"][result["cycles_run"] - 1]
        if gen.content_hash(rows) != want:
            failures.append(f"final table ({len(rows)} rows) differs from the model "
                            f"after cycle {result['cycles_run'] - 1}")
    except (ValueError, OSError, KeyError) as e:
        failures.append(f"final table: {e}")
    return attempted, failures


# operations one iteration of each workload counts
OPS = {"mapreduce": lambda truth: 2, "dedup": lambda truth: 1,
       "lake": lambda truth: truth["statements_per_cycle"]}


def check(workload, out_dir, truth, result):
    """(operations attempted, failure messages), one message per failed
    operation, for one run."""
    ops = OPS[workload](truth)
    timed = result["iterations"]
    errors = [f"iter {it['index']} threw: {it['error']}" for it in timed if it.get("error")]
    ok = [it for it in timed if not it.get("error")]
    if workload == "lake":
        attempted, failures = check_lake(out_dir, truth, result)
    else:
        attempted, failures = (check_mapreduce if workload == "mapreduce" else check_dedup)(
            out_dir, truth, ok)
    return attempted + ops * len(errors), [e for e in errors for _ in range(ops)] + failures
