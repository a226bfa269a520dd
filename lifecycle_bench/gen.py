"""Seeded corpus and query generator for the lifecycle benchmark.

Writes topic-structured documents (several KB each, so 1000/150 chunking
splits every one into several chunks), query texts cut from the base
documents, a new slice for re-ingest, and append batches that each carry
one planted document for the freshness check. The same seed and sizes give
byte-identical files.

    python3 gen.py --seed 7 --out DIR --docs 16 --slice 4 --queries 600 \
        --appends 2 --append-docs 6
    python3 gen.py --check          # same seed twice -> identical bytes
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import sys

SYLLABLES = [
    "ka", "lo", "mi", "ne", "su", "ta", "vo", "ri", "pe", "da", "go", "zu",
    "fa", "hi", "jo", "bu", "ce", "ly", "wa", "xe", "qi", "no", "ru", "se",
]


def make_words(rng, n, taken, min_syl, max_syl):
    words = []
    while len(words) < n:
        w = "".join(rng.choice(SYLLABLES)
                    for _ in range(rng.randint(min_syl, max_syl)))
        if w not in taken:
            taken.add(w)
            words.append(w)
    return words


def zipf_cum_weights(n):
    cum, total = [], 0.0
    for i in range(n):
        total += 1.0 / (i + 1) ** 0.8
        cum.append(total)
    return cum


class Corpus:
    """Vocabulary shared by every document of one seed."""

    def __init__(self, rng, topics, topic_words, common_words):
        taken = set()
        self.common = make_words(rng, common_words, taken, 1, 2)
        self.topics = [make_words(rng, topic_words, taken, 3, 4)
                       for _ in range(topics)]
        self.common_w = zipf_cum_weights(common_words)
        self.topic_w = zipf_cum_weights(topic_words)

    def sentence(self, rng, primary, secondary):
        n = rng.randint(8, 16)
        own = rng.choices(self.topics[primary], cum_weights=self.topic_w, k=n)
        other = rng.choices(self.topics[secondary], cum_weights=self.topic_w, k=n)
        common = rng.choices(self.common, cum_weights=self.common_w, k=n)
        out = []
        for i in range(n):
            r = rng.random()
            out.append(own[i] if r < 0.55 else other[i] if r < 0.65 else common[i])
        out[0] = out[0].capitalize()
        return " ".join(out) + "."

    def doc(self, rng, doc_id, min_chars, max_chars, primary=None):
        if primary is None:
            primary = rng.randrange(len(self.topics))
        secondary = rng.randrange(len(self.topics))
        # lengths cycle with the id, so every seed stores about as many chunks
        target = min_chars + (max_chars - min_chars) * (doc_id % 10) // 9
        paras, size = [], 0
        while size < target:
            para = " ".join(self.sentence(rng, primary, secondary)
                            for _ in range(rng.randint(3, 7)))
            paras.append(para)
            size += len(para) + 2
        return {"doc_id": doc_id, "text": "\n\n".join(paras), "lang": "en",
                "source": "topic-%02d" % primary}

    def planted(self, rng, doc_id, tag):
        # one chunk (< 1000 chars) with tokens no other document carries,
        # so its own text is its unique nearest neighbour
        primary = rng.randrange(len(self.topics))
        marks = ["planted%sx%dx%d" % (tag, doc_id, i) for i in range(6)]
        body = " ".join(self.sentence(rng, primary, primary) for _ in range(4))
        return {"doc_id": doc_id, "text": " ".join(marks) + " " + body,
                "lang": "en", "source": "planted"}


def query_text(rng, doc, words):
    toks = doc["text"].replace("\n\n", " ").split(" ")
    start = rng.randrange(max(1, len(toks) - words))
    return " ".join(toks[start:start + words])


def write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True, ensure_ascii=True) + "\n")


QUERY_WORDS = 40


def generate(seed, out, docs, slice_docs, queries, appends, append_docs,
             topics=10, topic_words=90, common_words=150,
             min_chars=3000, max_chars=6000):
    rng = random.Random(seed)
    corpus = Corpus(rng, topics, topic_words, common_words)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(os.path.join(out, "appends"))
    # base topics round-robin over a seeded order, so every seed spreads
    # the base corpus evenly over the topics
    order = list(range(topics))
    rng.shuffle(order)
    base = [corpus.doc(rng, i + 1, min_chars, max_chars, order[i % topics])
            for i in range(docs)]
    next_id = docs + 1
    write_jsonl(os.path.join(out, "base_docs.jsonl"), base)
    # the new slice ends with a planted document, so the re-ingest's
    # appends have a visibility probe of their own
    sl = [corpus.doc(rng, next_id + i, min_chars, max_chars)
          for i in range(slice_docs - 1)]
    next_id += slice_docs - 1
    sl.append(corpus.planted(rng, next_id, "s"))
    next_id += 1
    write_jsonl(os.path.join(out, "slice_docs.jsonl"), sl)
    qs = [{"qid": i, "text": query_text(rng, rng.choice(base), QUERY_WORDS)}
          for i in range(queries)]
    write_jsonl(os.path.join(out, "queries.jsonl"), qs)
    planted = [{"append": -1, "doc_id": sl[-1]["doc_id"], "text": sl[-1]["text"]}]
    for a in range(appends):
        batch = [corpus.doc(rng, next_id + i, min_chars, max_chars)
                 for i in range(append_docs - 1)]
        next_id += append_docs - 1
        p = corpus.planted(rng, next_id, "a")
        next_id += 1
        batch.insert(rng.randrange(len(batch) + 1), p)
        write_jsonl(os.path.join(out, "appends", "%04d.jsonl" % a), batch)
        planted.append({"append": a, "doc_id": p["doc_id"], "text": p["text"]})
    write_jsonl(os.path.join(out, "planted.jsonl"), planted)


def tree_digest(root):
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def self_check(scratch, seed=11):
    """Same seed twice -> byte-identical trees; another seed -> different."""
    sizes = dict(docs=12, slice_docs=3, queries=10, appends=2, append_docs=4)
    digests = []
    for i, s in enumerate((seed, seed, seed + 1)):
        d = os.path.join(scratch, "gen_check_%d" % i)
        generate(s, d, **sizes)
        digests.append(tree_digest(d))
        shutil.rmtree(d)
    return digests[0] == digests[1] and digests[0] != digests[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true",
                    help="only run the same-seed self-check (in --out)")
    ap.add_argument("--out")
    sizes = ("seed", "docs", "slice", "queries", "appends", "append-docs")
    for name in sizes:
        ap.add_argument("--" + name, type=int)
    a = ap.parse_args()
    if a.check:
        ok = self_check(a.out or ".bench_out")
        print("generator self-check:", "ok" if ok else "FAILED")
        sys.exit(0 if ok else 1)
    missing = [n for n in ("out",) + sizes
               if getattr(a, n.replace("-", "_")) is None]
    if missing:
        ap.error("required: " + ", ".join("--" + n for n in missing))
    generate(a.seed, a.out, a.docs, a.slice, a.queries, a.appends,
             a.append_docs)


if __name__ == "__main__":
    main()
