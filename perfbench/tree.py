"""The `corpus_mr` input: a tree of small text files made from
documents.parquet, copied `copies` times under
`<shard>/<lang>/<source>/doc_<id>.txt`, with a `ctx.txt` directory file in
every shard and shard/lang folder. The seed sets which shard each
document lands in, the directory-file weights and the shard the subtree
job reads; the files' contents and count do not depend on it. Also
computes the totals the four jobs must return (perfbench/src CorpusJobs).
"""
import os
import random

import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
WORDS_PER_LINE = 8


def content(text):
    words = text.split()
    lines = [" ".join(words[i:i + WORDS_PER_LINE]) for i in range(0, len(words), WORDS_PER_LINE)]
    return ("\n".join(lines) + "\n").encode()


def generate(root, seed, wl):
    docs = pq.read_table(os.path.join(BENCH, "data", "documents.parquet"),
                         columns=["doc_id", "text", "lang", "source"]).to_pylist()
    rng = random.Random(seed)
    copies, shards = wl["copies"], wl["shards"]
    shift = max(d["doc_id"] for d in docs) + 1
    files = [(c * shift + d["doc_id"], d) for c in range(copies) for d in docs]
    order = list(range(len(files)))
    rng.shuffle(order)
    shard_of = {files[i][0]: f"s{pos % shards}" for pos, i in enumerate(order)}
    # single-digit weights keep the tree's byte count seed-independent
    weights = {}
    subtree = f"s{rng.randrange(shards)}"
    exp = {"tokens": 0, "bytes": 0, "subtree_lines": 0, "ctx_weighted_tokens": 0}
    made = set()
    n_files = n_bytes = 0
    for doc_id, d in files:
        shard = shard_of[doc_id]
        folder = os.path.join(root, shard, d["lang"], d["source"])
        if folder not in made:
            os.makedirs(folder, exist_ok=True)
            made.add(folder)
        for ctx in (shard, f"{shard}/{d['lang']}"):
            if ctx not in weights:
                weights[ctx] = rng.randint(1, 9)
                with open(os.path.join(root, ctx, "ctx.txt"), "w") as f:
                    f.write(f"{weights[ctx]}\n")
                n_files += 1
                n_bytes += 2
        body = content(d["text"])
        with open(os.path.join(folder, f"doc_{doc_id}.txt"), "wb") as f:
            f.write(body)
        n_files += 1
        n_bytes += len(body)
        tokens = len(body.split())
        exp["tokens"] += tokens
        exp["bytes"] += len(body)
        if shard == subtree:
            exp["subtree_lines"] += body.count(b"\n")
        exp["ctx_weighted_tokens"] += tokens * (weights[shard] + weights[f"{shard}/{d['lang']}"])
    return {"subtree": subtree, "expected": exp, "files": n_files, "bytes": n_bytes}
