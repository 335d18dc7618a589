"""Seeded input generators for the three workloads.

Every generator is a pure function of (seed, size): the same arguments
give byte-identical files (gzip headers carry no name or mtime, JSON is
written with fixed formatting). Each one also writes `truth.json`, the
facts the checks need downstream: expected staged row counts for the
IMDb inputs, planted near-duplicate pairs and exact-duplicate groups for
the corpus, and planted ANN neighbours for the embeddings.
"""
import gzip
import json
import os
import random

import numpy as np

GENRES = ["Action", "Adventure", "Animation", "Biography", "Comedy", "Crime",
          "Documentary", "Drama", "Family", "Fantasy", "History", "Horror",
          "Music", "Mystery", "Romance", "Sci-Fi", "Sport", "Thriller",
          "War", "Western"]
TITLE_TYPES = [("movie", 70), ("short", 10), ("tvSeries", 10), ("tvEpisode", 10)]
WORDS = ("night day city love war star house river king queen road dark light "
         "last first lost secret return world game dream heart fire water storm "
         "shadow blood gold silver winter summer garden island stranger truth "
         "story ghost legend empire").split()


def _write_gz(path, lines):
    with open(path, "wb") as raw, gzip.GzipFile(filename="", mode="wb", fileobj=raw,
                                                 compresslevel=6, mtime=0) as gz:
        gz.write(("\n".join(lines) + "\n").encode("utf-8"))


def _weighted(rng, pairs):
    r = rng.random() * sum(w for _, w in pairs)
    for v, w in pairs:
        r -= w
        if r < 0:
            return v
    return pairs[-1][0]


def imdb(out_dir, seed, n_titles):
    """`title.basics.tsv.gz` / `title.ratings.tsv.gz` shaped like the IMDb
    dumps: `\\N` null markers, non-movie rows, duplicate `tconst` rows (a
    re-release with a later-sorting title, so keep-first keeps the
    original), ratings for most titles plus orphan ratings.
    """
    rng = random.Random(seed * 1_000_003 + 17)
    basics = ["tconst\ttitleType\tprimaryTitle\toriginalTitle\tisAdult\t"
              "startYear\tendYear\truntimeMinutes\tgenres"]
    ratings = ["tconst\taverageRating\tnumVotes"]
    movies, dups, rated_movies = set(), [], 0
    for i in range(n_titles):
        tconst = "tt%07d" % (i + 1)
        ttype = _weighted(rng, TITLE_TYPES)
        title = " ".join(rng.choice(WORDS).capitalize() for _ in range(rng.randint(1, 4)))
        primary = "\\N" if rng.random() < 0.005 else title
        original = title if rng.random() < 0.8 else title + " " + rng.choice(WORDS).capitalize()
        year = "\\N" if rng.random() < 0.03 else str(min(2024, 1920 + int(rng.betavariate(4, 1.3) * 105)))
        runtime = "\\N" if rng.random() < 0.10 else str(rng.randint(45, 200))
        if rng.random() < 0.05:
            genres = "\\N"
        else:
            genres = ",".join(rng.sample(GENRES, rng.randint(1, 3)))
        adult = "1" if rng.random() < 0.02 else "0"
        row = [tconst, ttype, primary, original, adult, year, "\\N", runtime, genres]
        basics.append("\t".join(row))
        if ttype == "movie":
            movies.add(tconst)
        if primary != "\\N" and rng.random() < 0.02:
            dup = list(row)
            dup[2] = primary + " (Re-release)"
            dup[5] = "\\N" if rng.random() < 0.5 else year
            dups.append("\t".join(dup))
        if rng.random() < 0.85:
            votes = max(5, int(rng.lognormvariate(6.5, 2.0)))
            ratings.append("%s\t%.1f\t%d" % (tconst, rng.randint(10, 100) / 10.0, votes))
            rated_movies += ttype == "movie"
    basics.extend(dups)
    for j in range(n_titles // 100):
        ratings.append("tt9%06d\t%.1f\t%d" % (j, rng.randint(10, 100) / 10.0, rng.randint(5, 5000)))
    os.makedirs(out_dir, exist_ok=True)
    _write_gz(os.path.join(out_dir, "title.basics.tsv.gz"), basics)
    _write_gz(os.path.join(out_dir, "title.ratings.tsv.gz"), ratings)
    truth = {"raw_rows": len(basics) - 1 + len(ratings) - 1,
             "titles_stg": len(movies), "ratings_stg": len(ratings) - 1,
             "fact_ratings": rated_movies}
    return truth


STOP_EN = ["the", "a", "of", "and", "to", "in", "is"]
STOP_DE = ["der", "die", "das", "und", "ein", "zu"]


def corpus(out_dir, seed, n_docs, shards):
    """A JSON-lines text corpus (`doc_id`, `text`) with planted near-dup
    clusters (a base document plus copies with a few word edits), planted
    exact copies, German documents and low-quality junk documents. Doc
    ids are shuffled so cluster members are spread over the id range.
    """
    rng = random.Random(seed * 7_368_787 + 5)
    vocab = ["w%d%s" % (i, rng.choice(["an", "or", "el", "ist", "um", "ra"])) for i in range(3000)]
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(vocab))]

    def text(n, stop):
        ws = rng.choices(vocab, weights, k=n)
        for p in rng.sample(range(n), n // 4):
            ws[p] = rng.choice(stop)
        return ws

    docs, clusters = [], []
    while len(docs) < n_docs:
        r = rng.random()
        n = rng.randint(30, 60)
        if r < 0.10:  # near-dup cluster of 2-4 members
            base = text(n, STOP_EN)
            members = [len(docs)]
            docs.append(" ".join(base))
            for _ in range(rng.randint(1, 3)):
                v = list(base)
                for _ in range(rng.randint(1, 2)):
                    p = rng.randrange(len(v))
                    v[p] = rng.choice([w for w in vocab[:50] if w != v[p]])
                members.append(len(docs))
                docs.append(" ".join(v))
            clusters.append(members)
        elif r < 0.13:  # exact copies
            t = " ".join(text(n, STOP_EN))
            docs.extend([t, t])
        elif r < 0.18:
            docs.append(" ".join(text(n, STOP_DE)))
        elif r < 0.22:  # junk: digits and symbols, no stopwords
            docs.append(" ".join("%d%s" % (rng.randint(0, 99999), rng.choice("#$%&*"))
                                 for _ in range(n)))
        else:
            docs.append(" ".join(text(n, STOP_EN)))
    docs = docs[:n_docs]
    ids = list(range(1, len(docs) + 1))
    rng.shuffle(ids)
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(out_dir, "docs"), exist_ok=True)
    files = [open(os.path.join(out_dir, "docs", "part-%03d.jsonl" % s), "w") for s in range(shards)]
    for i, t in enumerate(docs):
        files[i % shards].write(json.dumps({"doc_id": ids[i], "text": t}) + "\n")
    for f in files:
        f.close()

    def shingles(t):
        ws = [w for w in t.split(" ") if w]
        return {ws[i] + " " + ws[i + 1] for i in range(len(ws) - 1)}

    planted = []
    for members in clusters:
        members = [m for m in members if m < len(docs)]
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                sa, sb = shingles(docs[a]), shingles(docs[b])
                j = len(sa & sb) / len(sa | sb)
                planted.append([min(ids[a], ids[b]), max(ids[a], ids[b]), j])
    by_text = {}
    for i, t in enumerate(docs):
        by_text.setdefault(t, []).append(ids[i])
    exact = sorted([min(g), len(g)] for g in by_text.values() if len(g) > 1)
    return {"docs": len(docs), "planted_pairs": planted, "exact_groups": exact}


def embeddings(out_dir, seed, n_vectors, n_queries, dims, planted=10):
    """`embeddings.jsonl` (`id`, `vec` as float32) with `n_queries` query
    vectors in `queries.jsonl`; each query has `planted` corpus vectors
    placed within a small angle of it, far closer than any random vector,
    so its exact top-k is the planted set.
    """
    rng = np.random.default_rng(seed * 97 + 3)
    base = rng.standard_normal((n_vectors, dims)).astype(np.float32)
    queries = rng.standard_normal((n_queries, dims)).astype(np.float32)
    slots = rng.choice(n_vectors, size=(n_queries, planted), replace=False)
    for q in range(n_queries):
        noise = rng.standard_normal((planted, dims)).astype(np.float32) * np.float32(0.08)
        base[slots[q]] = queries[q] + noise * np.linalg.norm(queries[q]) / np.sqrt(dims)
    os.makedirs(out_dir, exist_ok=True)
    query_ids = [1_000_000 + q for q in range(n_queries)]
    for name, ids, mat in (("embeddings.jsonl", range(n_vectors), base),
                           ("queries.jsonl", query_ids, queries)):
        with open(os.path.join(out_dir, name), "w") as f:
            for i, v in zip(ids, mat):
                f.write('{"id":%d,"vec":[%s]}\n' % (i, ",".join("%.9g" % x for x in v)))
    return {"vectors": n_vectors, "queries": n_queries, "dims": dims,
            "planted": {str(query_ids[q]): sorted(int(s) for s in slots[q])
                        for q in range(n_queries)}}


def ensure(kind, out_dir, seed, **size):
    """Generate into `out_dir` unless a complete set for the same seed and
    size is already there; returns the truth dict."""
    stamp = {"kind": kind, "seed": seed, **size}
    done = os.path.join(out_dir, "truth.json")
    if os.path.exists(done):
        with open(done) as f:
            t = json.load(f)
        if t.get("stamp") == stamp:
            return t
    truth = {"imdb": imdb, "corpus": corpus, "embeddings": embeddings}[kind](out_dir, seed, **size)
    truth["stamp"] = stamp
    truth["bytes"] = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out_dir)
                         for f in fs if f != "truth.json")
    with open(done + ".tmp", "w") as f:
        json.dump(truth, f)
    os.replace(done + ".tmp", done)
    return truth
