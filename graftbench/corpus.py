"""Seeded synthetic directory corpus for the graft benchmark.

`generate(seed, root, ...)` writes a nested source tree and returns a plan:
the query stream, the planted marker terms, the exact and near duplicate
groups and the edit script for watch ticks. The same seed and sizes give a
byte-identical tree and an identical plan (only `random.Random` is used, never
hash ordering or the clock).

Shape of the tree:
  * file sizes are log-normal, rescaled so the whole tree holds `total_bytes`;
  * words follow a Zipf law over a seeded synthetic vocabulary;
  * every file carries one unique marker term (`mk<seed>x<n>`);
  * exact and near (a few words changed) duplicate groups sit under
    `vendor/`;
  * a `node_modules/` subtree holds files that discovery must exclude;
  * the edit script appends to about 1% of files, adds one and deletes one
    file per tick; appended text is made of new unique terms, and each tick
    names a freshness query built from it.
"""

import hashlib
import os
import random

EXTS = ["md", "txt", "py", "ts", "java", "go"]
SYLLABLES = ["ka", "lo", "mi", "ne", "su", "ra", "ti", "po", "ve", "da",
             "zu", "fe", "gi", "ho", "ju", "xe", "by", "qu", "wo", "ce"]
WORDS_PER_LINE = 11


class Vocab:
    """A Zipf(s) distribution over `size` synthetic words."""

    def __init__(self, rng, size=4000, s=1.1):
        words, seen = [], set()
        while len(words) < size:
            w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4)))
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = words
        acc, cum = 0.0, []
        for r in range(1, size + 1):
            acc += 1.0 / r ** s
            cum.append(acc)
        self.cum = cum

    def sample(self, rng, n):
        return rng.choices(self.words, cum_weights=self.cum, k=n)


def _text(rng, vocab, n_bytes, marker=None):
    """Lines of Zipf words until about `n_bytes`; the marker sits in line 1."""
    lines, size = [], 0
    while size < n_bytes:
        words = vocab.sample(rng, WORDS_PER_LINE)
        if marker is not None and not lines:
            words[rng.randrange(len(words))] = marker
        line = " ".join(words)
        lines.append(line)
        size += len(line) + 1
    return "\n".join(lines) + "\n"


def _fresh_text(rng, words, n_bytes):
    """Lines drawn uniformly from `words` (new unique terms) until about
    `n_bytes`: text that no other file resembles, so a query made of it
    singles out the chunks that hold it."""
    lines, size = [], 0
    while size < n_bytes:
        line = " ".join(rng.choice(words) for _ in range(WORDS_PER_LINE))
        lines.append(line)
        size += len(line) + 1
    return "\n".join(lines) + "\n"


def _mutate(rng, vocab, text, frac=0.03):
    """A near duplicate: replace about `frac` of the words."""
    lines = []
    for line in text.rstrip("\n").split("\n"):
        words = line.split(" ")
        for i in range(len(words)):
            if rng.random() < frac:
                words[i] = vocab.sample(rng, 1)[0]
        lines.append(" ".join(words))
    return "\n".join(lines) + "\n"


def _write(root, rel, text):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def _tree_paths(rng, n):
    """`n` distinct nested relative paths, one to three directories deep."""
    tops = ["core", "api", "util", "docs", "services", "lib", "tools", "web"]
    paths, seen = [], set()
    while len(paths) < n:
        depth = rng.randint(1, 3)
        parts = [rng.choice(tops)] + [f"m{rng.randrange(12):02d}" for _ in range(depth - 1)]
        rel = "/".join(parts + [f"f{len(paths):05d}.{rng.choice(EXTS)}"])
        if rel not in seen:
            seen.add(rel)
            paths.append(rel)
    return paths


def _sizes(rng, n, total_bytes, sigma=0.9):
    raw = [rng.lognormvariate(0.0, sigma) for _ in range(n)]
    scale = total_bytes / sum(raw)
    return [max(160, int(r * scale)) for r in raw]


DUP_GROUPS = 6        # exact-duplicate groups of 2-3 copies
NEAR_GROUPS = 6       # near-duplicate pairs
EXCLUDED_FILES = 8    # under node_modules/
N_QUERIES = 4000      # the query stream, longer than any run consumes
POOL, HOT, HOT_SHARE = 200, 20, 0.5
TICKS = 2             # watch ticks a traced run applies
APPEND_BYTES = 700


def generate(seed, root, n_files, total_bytes):
    """Write the tree under `root` (which must not exist) and return the plan."""
    rng = random.Random(f"graft-corpus-{seed}")
    vocab = Vocab(rng)
    tag = hashlib.sha1(str(seed).encode()).hexdigest()[:6]
    serial = iter(range(1_000_000))

    def marker():
        return f"mk{tag}x{next(serial)}"

    texts, markers = {}, {}
    for rel, size in zip(_tree_paths(rng, n_files), _sizes(rng, n_files, total_bytes)):
        m = marker()
        texts[rel] = _text(rng, vocab, size, m)
        markers[rel] = m

    plain = sorted(texts)
    exact, near = [], []
    for g in range(DUP_GROUPS):
        body = _text(rng, vocab, rng.randint(1500, 4000), marker())
        group = [f"vendor/exact{g:02d}/copy{c}.txt" for c in range(rng.randint(2, 3))]
        for rel in group:
            texts[rel] = body
        exact.append(group)
    for g in range(NEAR_GROUPS):
        body = _text(rng, vocab, rng.randint(2500, 5000), marker())
        group = [f"vendor/near{g:02d}/orig.md", f"vendor/near{g:02d}/variant.md"]
        texts[group[0]] = body
        texts[group[1]] = _mutate(rng, vocab, body)
        near.append(group)
    excluded = []
    for i in range(EXCLUDED_FILES):
        rel = f"node_modules/pkg{i:02d}/index.ts"
        texts[rel] = _text(rng, vocab, rng.randint(800, 2000), marker())
        markers[rel] = texts[rel].split("\n")[0].split(" ")[0]
        excluded.append(rel)
    for rel in sorted(texts):
        _write(root, rel, texts[rel])

    # queries: a pool of Zipf word tuples and marker lookups; the first
    # HOT of them (the hot set) take HOT_SHARE of the traffic
    qpool = []
    for i in range(POOL):
        if i % 5 == 4:
            qpool.append(markers[plain[rng.randrange(len(plain))]] + " " +
                         " ".join(vocab.sample(rng, 3)))
        else:
            qpool.append(" ".join(vocab.sample(rng, rng.randint(3, 6))))
    queries = [qpool[rng.randrange(HOT)] if rng.random() < HOT_SHARE
               else qpool[rng.randrange(HOT, POOL)] for _ in range(N_QUERIES)]

    # watch: each tick appends to ~1% of the live plain files, adds one file
    # and deletes one; the freshness query is the probe file's new text
    live = list(plain)
    script = []
    for t in range(TICKS):
        n_edit = max(1, round(0.01 * len(live)))
        edited = rng.sample(live, n_edit)
        appends = [[rel, _fresh_text(rng, [marker() for _ in range(12)], APPEND_BYTES)]
                   for rel in edited]
        added = f"core/new/t{t:03d}.md"
        add_text = _text(rng, vocab, rng.randint(800, 2500), marker())
        victim = rng.choice([p for p in live if p not in edited])
        live.remove(victim)
        live.append(added)
        fresh = appends[0][1]
        script.append({"append": appends, "add": [added, add_text], "delete": victim,
                       "probe": edited[0], "fresh_query": fresh})

    return {"excluded": excluded, "exact_groups": exact, "near_groups": near,
            "queries": queries, "ticks": script}


def tree_digest(root):
    """SHA-1 over every relative path and file content under `root`."""
    h = hashlib.sha1()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(d, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()

