"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, size): the same seed
gives the same bytes. Each generator writes its inputs under `out_dir`,
plus `truth.json` with the figures the output checks compare against and
the generated sizes (MB, tokens, distinct words, planted duplicates).

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

import hashlib
import json
import os
import random
import sys
from array import array
from bisect import bisect_right
from collections import Counter
from itertools import accumulate

# Sizes, chosen so one run of each workload fits the benchmark's time
# budget on 4 cores (see perfbench/README.md for the sizing notes).
MAPREDUCE = {"files": 8, "mb": 24.0, "vocab": 20000, "zipf_s": 1.1}
DEDUP = {"docs": 8000, "min_tokens": 30, "max_tokens": 150, "vocab": 5000,
         "exact_share": 0.05, "near_share": 0.20, "junk_share": 0.03}
LAKE = {"cycles": 60, "batch": 20, "merge_batch": 20, "delete_span": 6,
        "range_span": 12, "min_tokens": 10, "max_tokens": 60, "vocab": 3000}

# The stopword list the engine's quality gate counts (TextStats.Stopwords).
STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "on"]
PUNCT = [",", ".", ";", "!", "?"]


def make_vocab(rng, n):
    """n distinct lowercase pseudo-words, none of them a stopword. A word's
    length depends on its rank only (1 syllable for the 9 most frequent,
    2 up to rank 99, 3 up to rank 999, then 4; a closing consonant on
    every third), so every seed gives the same bytes per token and the
    same work per MB; the seed picks the letters."""
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    seen, words = set(STOPWORDS), []
    while len(words) < n:
        i = len(words)
        syl = min(4, len(str(i + 1)))
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(syl))
        if i % 3 == 2:
            w += rng.choice(cons)
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_cum(n, s):
    return list(accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


def zipf_sampler(rng, vocab, s):
    cum = zipf_cum(len(vocab), s)
    total = cum[-1]

    def draw(k):
        return [vocab[bisect_right(cum, rng.random() * total)] for _ in range(k)]
    return draw


def uint32s(rng, n):
    """n uniform 32-bit integers drawn in one call."""
    a = array("I")
    a.frombytes(rng.randbytes(4 * n))
    if sys.byteorder != "little":
        a.byteswap()
    return a


def _write_json(path, obj):
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))


# ---------------------------------------------------------------------------
# mapreduce: a Zipf text corpus in N files

TABLE_BITS = 20  # resolution of the Zipf lookup table: 2^20 slots


def zipf_table(vocab, s):
    """Inverse CDF of Zipf(s) over `vocab` quantized to 2^TABLE_BITS
    slots, so a token is one table lookup of a uniform integer."""
    cum = zipf_cum(len(vocab), s)
    n, total = 1 << TABLE_BITS, cum[-1]
    return [vocab[min(bisect_right(cum, (i + 0.5) * total / n), len(vocab) - 1)]
            for i in range(n)]


def gen_mapreduce(seed, out_dir, cfg=MAPREDUCE):
    rng = random.Random(f"mapreduce:{seed}")
    vocab = make_vocab(rng, cfg["vocab"])
    table = zipf_table(vocab, cfg["zipf_s"])
    shift = 32 - TABLE_BITS
    per_file = int(cfg["mb"] * 1e6 / cfg["files"])
    counts, nbytes, files = Counter(), 0, []
    corpus = os.path.join(out_dir, "corpus")
    os.makedirs(corpus, exist_ok=True)
    for i in range(cfg["files"]):
        name = f"part-{i:02d}.txt"
        lines, size = [], 0
        while size < per_file:
            # a block of tokens per call; ~7 bytes per token with its space
            words = [table[x >> shift] for x in uint32s(rng, max(64, (per_file - size) // 7))]
            counts.update(words)
            # surface noise the tokenizer normalizes away: 5% capitalised,
            # 1% upper case, 4% with trailing punctuation
            noise = rng.randbytes(len(words))
            for j, b in enumerate(noise):
                if b < 28:
                    w = words[j]
                    words[j] = (w.capitalize() if b < 13 else w.upper() if b < 15
                                else w + PUNCT[b % len(PUNCT)])
            # lines of 8 to 20 tokens; every drawn token is written
            k = 0
            for b in rng.randbytes(len(words) // 8 + 1):
                if k >= len(words):
                    break
                line = " ".join(words[k:k + 8 + b % 13])
                lines.append(line)
                size += len(line) + 1
                k += 8 + b % 13
        data = ("\n".join(lines) + "\n").encode("utf-8")
        with open(os.path.join(corpus, name), "wb") as f:
            f.write(data)
        nbytes += len(data)
        files.append(name)
    counts = dict(counts)
    truth = {
        "workload": "mapreduce", "seed": seed, "files": files,
        "bytes": nbytes, "mb": nbytes / 1e6, "tokens": sum(counts.values()),
        "distinct_words": len(counts), "counts": counts,
    }
    _write_json(os.path.join(out_dir, "truth.json"), truth)
    return truth


# ---------------------------------------------------------------------------
# dedup: a docs table with planted exact and near copies


def gen_dedup(seed, out_dir, cfg=DEDUP):
    rng = random.Random(f"dedup:{seed}")
    vocab = make_vocab(rng, cfg["vocab"])
    draw = zipf_sampler(rng, vocab, 1.0)
    # copies are made of fresh originals only, so every near-duplicate
    # cluster is a star around its original and the clustering rounds do
    # not depend on the seed
    texts, kinds, fresh = [], [], []
    for i in range(cfg["docs"]):
        r = rng.random() if i >= 10 else 1.0
        if r < cfg["exact_share"]:
            texts.append(texts[rng.choice(fresh)])
            kinds.append("exact")
        elif r < cfg["exact_share"] + cfg["near_share"]:
            toks = texts[rng.choice(fresh)].split(" ")
            for _ in range(2):  # two token edits
                toks[rng.randrange(len(toks))] = draw(1)[0]
            texts.append(" ".join(toks))
            kinds.append("near")
        elif r < cfg["exact_share"] + cfg["near_share"] + cfg["junk_share"]:
            # digit-heavy junk the quality gate drops
            n = rng.randint(cfg["min_tokens"], cfg["max_tokens"])
            texts.append(" ".join(str(rng.randrange(10 ** 6)) for _ in range(n)))
            kinds.append("junk")
        else:
            # a fresh original: about 10% stopwords and at least 2% (the
            # quality gate asks for 1%), so it always passes the gate
            n = rng.randint(cfg["min_tokens"], cfg["max_tokens"])
            toks = [rng.choice(STOPWORDS) if rng.random() < 0.1 else w
                    for w in draw(n)]
            for j in rng.sample(range(n), -(-n // 50)):
                toks[j] = rng.choice(STOPWORDS)
            texts.append(" ".join(toks))
            kinds.append("fresh")
            fresh.append(i)
    path = os.path.join(out_dir, "docs.jsonl")
    with open(path, "w", encoding="utf-8") as f:
        for i, t in enumerate(texts):
            f.write(json.dumps({"doc_id": i, "text": t}, separators=(",", ":")) + "\n")
    text_bytes = sum(len(t.encode("utf-8")) for t in texts)

    def ids(kind):
        return [i for i, k in enumerate(kinds) if k == kind]
    truth = {
        "workload": "dedup", "seed": seed, "docs": len(texts),
        "bytes": text_bytes, "mb": text_bytes / 1e6,
        "tokens": sum(len(t.split(" ")) for t in texts),
        "distinct_words": len({w for t in texts for w in t.split(" ")}),
        "exact_copies": ids("exact"), "fresh": ids("fresh"), "junk": len(ids("junk")),
        "near_copies": len(ids("near")),
    }
    _write_json(os.path.join(out_dir, "truth.json"), truth)
    return truth


# ---------------------------------------------------------------------------
# lake: a script of SQL writes and selective reads, with its expected results

# run once before the first cycle (cycle -1 in the script)
LAKE_SETUP = ["CREATE NAMESPACE {cat}.db",
              "CREATE TABLE {t} (doc_id BIGINT, n_tokens BIGINT, text STRING) USING `graft-lake`"]
_N_TOKENS = "size(split({s}text, ' '))"
LAKE_SQL = {
    "insert": "INSERT INTO {t} SELECT doc_id, " + _N_TOKENS.format(s="") + ", text FROM batch",
    "merge": ("MERGE INTO {t} t USING batch s ON t.doc_id = s.doc_id "
              "WHEN MATCHED THEN UPDATE SET n_tokens = " + _N_TOKENS.format(s="s.")
              + ", text = s.text "
              "WHEN NOT MATCHED THEN INSERT (doc_id, n_tokens, text) VALUES (s.doc_id, "
              + _N_TOKENS.format(s="s.") + ", s.text)"),
    "delete": "DELETE FROM {t} WHERE doc_id BETWEEN {lo} AND {hi}",
    "compact": "CALL {cat}.system.compact('{name}')",
    "checkpoint": "CALL {cat}.system.checkpoint('{name}')",
    "select_point": "SELECT doc_id, n_tokens, text FROM {t} WHERE doc_id = {lo}",
    "select_range": ("SELECT doc_id, n_tokens, text FROM {t} "
                     "WHERE doc_id BETWEEN {lo} AND {hi} ORDER BY doc_id"),
}
# one cycle, the lake workload's iteration: writes and reads interleaved
LAKE_CYCLE = ["insert", "select_point", "insert", "select_range", "merge", "select_point",
              "delete", "select_range", "insert", "select_point", "compact", "checkpoint",
              "select_range"]
LAKE_WRITES = ("insert", "merge", "delete", "compact", "checkpoint")


def content_hash(rows):
    """sha256 of a table's rows, sorted by doc_id, as `id<TAB>n<TAB>text` lines."""
    h = hashlib.sha256()
    for doc_id, n, text in sorted(rows):
        h.update(f"{doc_id}\t{n}\t{text}\n".encode("utf-8"))
    return h.hexdigest()


def gen_lake(seed, out_dir, cfg=LAKE):
    """`script.tsv`: one statement a line (`cycle, op, kind, sql, batch
    file`), SQL with `{t}`, `{cat}` and `{name}` for the table; cycle -1
    creates the table. Batches are
    jsonl files of (doc_id, text) under `batches/`. The generator runs the
    script against an in-memory model of the table, so `truth.json` holds
    every read's rows and the table's content hash after every cycle."""
    rng = random.Random(f"lake:{seed}")
    vocab = make_vocab(rng, cfg["vocab"])
    draw = zipf_sampler(rng, vocab, 1.0)
    batches = os.path.join(out_dir, "batches")
    os.makedirs(batches, exist_ok=True)
    model, next_id = {}, 0
    reads, hashes, cycle_bytes = {}, [], []
    stats = {"tokens": 0, "words": set()}

    # every batch has the same doc lengths, evenly spread over the range,
    # so each cycle inserts about the same bytes
    lengths = [cfg["min_tokens"] + (cfg["max_tokens"] - cfg["min_tokens"]) * k
               // max(1, cfg["batch"] - 1) for k in range(cfg["batch"])]

    def doc(doc_id, k):
        text = " ".join(draw(lengths[k % len(lengths)]))
        stats["tokens"] += text.count(" ") + 1
        stats["words"].update(text.split(" "))
        return {"doc_id": doc_id, "text": text}

    def write_batch(op, rows):
        name = f"b-{op:05d}.jsonl"
        data = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows)
        with open(os.path.join(batches, name), "w", encoding="utf-8") as f:
            f.write(data)
        return name, len(data.encode("utf-8"))

    script = [(-1, -1, "setup", sql, "") for sql in LAKE_SETUP]
    op = 0
    for cycle in range(cfg["cycles"]):
        user_bytes = 0
        for kind in LAKE_CYCLE:
            batch, lo, hi = "", 0, 0
            if kind == "insert":
                rows = [doc(next_id + k, k) for k in range(cfg["batch"])]
                next_id += cfg["batch"]
                batch, n = write_batch(op, rows)
                user_bytes += n
                for r in rows:
                    model[r["doc_id"]] = r["text"]
            elif kind == "merge":
                # half updates of live or deleted ids, half new ids
                half = cfg["merge_batch"] // 2
                old = rng.sample(range(next_id), half)
                rows = ([doc(i, 2 * k) for k, i in enumerate(sorted(old))]
                        + [doc(next_id + k, 2 * k + 1) for k in range(half)])
                next_id += half
                batch, n = write_batch(op, rows)
                user_bytes += n
                for r in rows:
                    model[r["doc_id"]] = r["text"]
            elif kind == "delete":
                lo = rng.randrange(next_id)
                hi = lo + cfg["delete_span"] - 1
                for i in range(lo, hi + 1):
                    model.pop(i, None)
            elif kind.startswith("select"):
                lo = rng.randrange(next_id)
                hi = lo + cfg["range_span"] - 1 if kind == "select_range" else lo
                reads[str(op)] = [[i, model[i].count(" ") + 1, model[i]]
                                  for i in range(lo, hi + 1) if i in model]
            script.append((cycle, op, kind, LAKE_SQL[kind].replace("{lo}", str(lo))
                           .replace("{hi}", str(hi)), batch))
            op += 1
        hashes.append(content_hash((i, t.count(" ") + 1, t) for i, t in model.items()))
        cycle_bytes.append(user_bytes)
    with open(os.path.join(out_dir, "script.tsv"), "w", encoding="utf-8") as f:
        for row in script:
            f.write("\t".join(str(x) for x in row) + "\n")
    truth = {
        "workload": "lake", "seed": seed, "cycles": cfg["cycles"],
        "statements_per_cycle": len(LAKE_CYCLE),
        "writes_per_cycle": sum(k in LAKE_WRITES for k in LAKE_CYCLE),
        "bytes": sum(cycle_bytes), "mb": sum(cycle_bytes) / 1e6 / cfg["cycles"],
        "cycle_mb": [b / 1e6 for b in cycle_bytes], "docs": next_id,
        "tokens": stats["tokens"], "distinct_words": len(stats["words"]),
        "reads": reads, "hashes": hashes,
    }
    _write_json(os.path.join(out_dir, "truth.json"), truth)
    return truth


GENERATORS = {"mapreduce": gen_mapreduce, "dedup": gen_dedup, "lake": gen_lake}


def generate(workload, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    return GENERATORS[workload](seed, out_dir)


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{'|'.join(GENERATORS)}}} <seed> <out_dir>")
    t = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({k: v for k, v in t.items()
                      if k not in ("counts", "exact_copies", "fresh", "reads", "hashes",
                                   "cycle_mb")}))
