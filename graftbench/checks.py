"""Output checks for the three workloads.

Every check returns (attempted, failed, notes). The IMDb outputs and the
serving answers are compared with DuckDB over the same generated TSVs;
the dedup outputs are recomputed in plain Python from the corpus.
"""
import json
import os
import re

import duckdb
import numpy as np

MIN_VOTES = 1000
TOP_N = 10
MIN_JACCARD = 0.7
MIN_QUALITY = 0.45
STOPWORDS = [("en", ["the", "a", "of", "and", "to", "in", "is"]),
             ("de", ["der", "die", "das", "und", "ein", "zu"]),
             ("es", ["el", "los", "las", "y", "que", "por"]),
             ("fr", ["le", "les", "et", "des", "une", "dans"]),
             ("zh", ["de", "shi", "le", "zai", "you"])]


def imdb_oracle(raw_dir):
    """A DuckDB connection holding the reference pipeline's tables, built
    from the raw TSVs by the same rules as `ImdbPipeline.run`."""
    con = duckdb.connect()
    for name, f in (("basics_raw", "title.basics.tsv.gz"), ("ratings_raw", "title.ratings.tsv.gz")):
        con.execute(f"""CREATE VIEW {name} AS SELECT * FROM read_csv('{raw_dir}/{f}',
            delim='\t', header=true, all_varchar=true, quote='"', escape='"')""")
    con.execute(r"""
    CREATE TABLE titles_stg AS SELECT * EXCLUDE (rn) FROM (
      SELECT *, row_number() OVER (PARTITION BY tconst ORDER BY primaryTitle ASC NULLS FIRST) AS rn
      FROM (SELECT tconst, NULLIF(titleType, '\N') AS titleType,
              NULLIF(primaryTitle, '\N') AS primaryTitle, NULLIF(originalTitle, '\N') AS originalTitle,
              CAST(isAdult AS INT) AS isAdult, CAST(NULLIF(startYear, '\N') AS INT) AS startYear,
              CAST(NULLIF(runtimeMinutes, '\N') AS INT) AS runtimeMinutes,
              NULLIF(genres, '\N') AS genres
            FROM basics_raw) WHERE titleType = 'movie') WHERE rn = 1;
    CREATE TABLE ratings_stg AS SELECT * EXCLUDE (rn) FROM (
      SELECT *, row_number() OVER (PARTITION BY tconst ORDER BY averageRating ASC NULLS FIRST) AS rn
      FROM (SELECT tconst, CAST(NULLIF(averageRating, '\N') AS DOUBLE) AS averageRating,
              CAST(NULLIF(numVotes, '\N') AS INT) AS numVotes FROM ratings_raw)) WHERE rn = 1;
    CREATE TABLE dim_year AS SELECT DISTINCT startYear AS year FROM titles_stg WHERE startYear IS NOT NULL;
    CREATE TABLE dim_title AS SELECT tconst AS titlekey, primaryTitle, originalTitle, titleType,
      startYear, runtimeMinutes, isAdult FROM titles_stg;
    CREATE TABLE bridge_title_genre AS SELECT DISTINCT titlekey, lower(trim(g)) AS genrekey FROM (
      SELECT tconst AS titlekey, unnest(string_split(genres, ',')) AS g
      FROM titles_stg WHERE genres IS NOT NULL) WHERE g <> '';
    CREATE TABLE dim_genre AS SELECT DISTINCT genrekey FROM bridge_title_genre;
    CREATE TABLE fact_ratings AS SELECT t.tconst AS titlekey, t.startYear AS yearkey,
      r.averageRating AS avg_rating, r.numVotes AS num_votes, t.runtimeMinutes AS runtime_min
      FROM titles_stg t JOIN ratings_stg r ON t.tconst = r.tconst;
    CREATE TABLE mart_year_kpi AS SELECT yearkey, count(*) AS n_movies,
      avg(avg_rating) AS mean_rating, sum(num_votes) AS total_votes FROM fact_ratings GROUP BY yearkey;
    CREATE TABLE mart_top_genre_year AS SELECT * FROM (
      SELECT f.yearkey, b.genrekey, f.titlekey, f.avg_rating, f.num_votes,
        row_number() OVER (PARTITION BY f.yearkey, b.genrekey
                           ORDER BY f.num_votes DESC NULLS LAST, f.titlekey ASC) AS rk
      FROM fact_ratings f JOIN bridge_title_genre b ON f.titlekey = b.titlekey
      WHERE f.num_votes >= %d) WHERE rk <= %d;
    CREATE TABLE mart_top_year_by_rating AS SELECT * FROM (
      SELECT yearkey, titlekey, avg_rating, num_votes,
        row_number() OVER (PARTITION BY yearkey ORDER BY avg_rating DESC NULLS LAST, titlekey ASC) AS rk
      FROM fact_ratings WHERE num_votes >= %d) WHERE rk <= %d;
    CREATE TABLE mart_rating_distribution AS SELECT yearkey,
      floor(avg_rating / 0.5) * 0.5 AS rating_bucket, count(*) AS count
      FROM fact_ratings GROUP BY yearkey, floor(avg_rating / 0.5);
    """ % (MIN_VOTES, TOP_N, MIN_VOTES, TOP_N))
    return con


TABLES = {"dw": ["dim_year", "dim_title", "dim_genre", "bridge_title_genre", "fact_ratings"],
          "marts": ["mart_year_kpi", "mart_top_genre_year", "mart_top_year_by_rating",
                    "mart_rating_distribution"]}


def _columns(con, rel):
    """[(name, is_double)] sorted by name."""
    return sorted((name, typ in ("DOUBLE", "FLOAT")) for name, typ, *_ in con.execute(f"DESCRIBE {rel}").fetchall())


def _diff(con, got, want):
    """None when the two relations hold the same rows, else why not.
    Doubles match as in `_same`: engines sum floats in different
    orders, and rounding both sides can land a tie on either side."""
    cols = _columns(con, want)
    if _columns(con, got) != cols:
        return f"columns {_columns(con, got)} != {cols}"
    order = ", ".join([n for n, d in cols if not d] + [f"round({n}, 6)" for n, d in cols if d])
    sel = ", ".join(n for n, _ in cols)
    a, b = (con.execute(f"SELECT {sel} FROM {r} ORDER BY {order}").fetchall() for r in (got, want))
    if len(a) != len(b):
        return f"{len(a)} rows, expected {len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        for (_, dbl), u, v in zip(cols, x, y):
            if not (u == v or (dbl and _same(u, v))):
                return f"row {i}: {x} != {y}"
    return None


def check_imdb_pass(con, out_dir):
    """Compare one pass's nine parquet outputs with the oracle tables."""
    failed, notes = 0, []
    for zone, names in TABLES.items():
        for t in names:
            path = os.path.join(out_dir, zone, t)
            try:
                if t == "fact_ratings":
                    src = (f"(SELECT * EXCLUDE (yearkey), CAST(NULLIF(yearkey, '__HIVE_DEFAULT_PARTITION__')"
                           f" AS INT) AS yearkey FROM read_parquet('{path}/*/*.parquet',"
                           f" hive_partitioning=true, hive_types_autocast=false))")
                else:
                    src = f"read_parquet('{path}/*.parquet')"
                con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM {src}")
                why = _diff(con, "got", t)
                if why:
                    raise ValueError(why)
            except Exception as e:  # a missing or unreadable output is a failed output
                failed += 1
                notes.append(f"{out_dir}/{zone}/{t}: {e}")
    return 9, failed, notes


def imdb_truth_ok(con, truth):
    """The oracle itself must reproduce the generator's staged counts."""
    got = {k: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
           for k, t in (("titles_stg", "titles_stg"), ("ratings_stg", "ratings_stg"),
                        ("fact_ratings", "fact_ratings"))}
    bad = [f"{k}: oracle {v} != generated {truth[k]}" for k, v in got.items() if v != truth[k]]
    return bad


# ---- corpus_dedup ---------------------------------------------------------

def _shingles(text):
    ws = [w for w in text.split(" ") if w]
    return {ws[i] + " " + ws[i + 1] for i in range(len(ws) - 1)}


def _quality(text):
    stop = {w for _, ws in STOPWORDS for w in ws}
    toks = [t for t in text.split(" ") if t]
    n = len(text)
    stop_ratio = sum(t in stop for t in toks) / max(len(toks), 1)
    alpha = len(re.sub("[^a-z]", "", text)) / max(n, 1)
    return 0.5 * min(1.0, n / 400.0) + 0.3 * stop_ratio + 0.2 * alpha


def _lang(text):
    toks = [t for t in text.split(" ") if t]
    hits = [sum(t in ws for t in toks) for _, ws in STOPWORDS]
    return STOPWORDS[hits.index(max(hits))][0]


class Corpus:
    """The generated documents with their shingle sets, quality scores and
    languages, computed once and shared by every pass's check."""

    def __init__(self, data_dir):
        self.text = {}
        d = os.path.join(data_dir, "docs")
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f)) as fh:
                for line in fh:
                    r = json.loads(line)
                    self.text[r["doc_id"]] = r["text"]
        self.shingles = {d: _shingles(t) for d, t in self.text.items()}
        self.quality = {d: _quality(t) for d, t in self.text.items()}
        self.lang = {d: _lang(t) for d, t in self.text.items()}


def check_dedup_pass(docs, truth, out_dir, exact):
    """Returns (attempted, failed, notes, recall) for one pass's outputs."""
    con = duckdb.connect()
    failed, notes = 0, []

    def fail(msg):
        nonlocal failed
        failed += 1
        notes.append(f"{out_dir}: {msg}")

    if sorted(map(list, exact)) != truth["exact_groups"]:
        fail(f"exact groups differ: {len(exact)} vs {len(truth['exact_groups'])}")
    pairs = con.execute(f"SELECT doc_a, doc_b, jaccard FROM read_parquet('{out_dir}/pairs/*.parquet')").fetchall()
    bad = [p for p in pairs if p[0] >= p[1] or p[2] < MIN_JACCARD]
    for a, b, j in pairs:
        sa, sb = docs.shingles[a], docs.shingles[b]
        if abs(len(sa & sb) / len(sa | sb) - j) > 1.01e-4:
            bad.append((a, b, j))
    if bad or len({(a, b) for a, b, _ in pairs}) != len(pairs):
        fail(f"{len(bad)} pairs with a wrong Jaccard or order, or duplicate pairs")
    found = {(a, b) for a, b, _ in pairs}
    planted = [(a, b) for a, b, j in truth["planted_pairs"] if j >= MIN_JACCARD]
    recall = sum(p in found for p in planted) / max(len(planted), 1)

    parent = {}

    def root(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x
    for a, b, _ in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: root(x) for p in found for x in p}
    got = dict(con.execute(f"SELECT doc_id, cluster_id FROM read_parquet('{out_dir}/clusters/*.parquet')").fetchall())
    if got != want:
        fail(f"clusters differ on {sum(got.get(k) != v for k, v in want.items()) + len(set(got) - set(want))} docs")

    dup_b = {b for _, b in found}
    clean = con.execute(f"SELECT doc_id, qscore, lang_pred FROM read_parquet('{out_dir}/clean/*.parquet')").fetchall()
    got_ids = {d for d, _, _ in clean}
    wrong = 0
    for d, q, lang in clean:
        wrong += (d in dup_b or lang != "en" or q < MIN_QUALITY
                  or abs(q - docs.quality[d]) > 1.01e-4)
    for d, q in docs.quality.items():
        if d not in dup_b and docs.lang[d] == "en" and q >= MIN_QUALITY + 1e-4 and d not in got_ids:
            wrong += 1
    if wrong:
        fail(f"{wrong} cleaned-corpus rows wrong or missing")
    return 4, failed, notes, recall


# ---- bi_serve -------------------------------------------------------------

def load_vectors(path):
    ids, vecs = [], []
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            ids.append(r["id"])
            vecs.append(r["vec"])
    return np.array(ids), np.array(vecs, dtype=np.float32).astype(np.float64)


class ServeOracle:
    """Expected answers for the serving ops, computed once per distinct op."""

    def __init__(self, raw_dir, emb_dir):
        self.con = imdb_oracle(raw_dir)
        self.ids, self.vecs = load_vectors(os.path.join(emb_dir, "embeddings.jsonl"))
        qids, qv = load_vectors(os.path.join(emb_dir, "queries.jsonl"))
        self.queries = dict(zip(qids.tolist(), qv))
        self.norms = np.linalg.norm(self.vecs, axis=1)
        self.cache = {}

    def cosines(self, qid):
        q = self.queries[qid]
        return self.vecs @ q / (self.norms * np.linalg.norm(q))

    def expected(self, op, params):
        key = (op, tuple(params))
        if key not in self.cache:
            c = self.con
            if op == "top_year":
                r = c.execute(f"""SELECT titlekey, avg_rating, num_votes FROM fact_ratings
                    WHERE yearkey = {params[0]} AND num_votes >= {MIN_VOTES}
                    ORDER BY avg_rating DESC NULLS LAST, titlekey LIMIT 10""").fetchall()
            elif op == "kpi_range":
                r = c.execute(f"""SELECT yearkey, count(*), avg(avg_rating), sum(num_votes)
                    FROM fact_ratings WHERE yearkey BETWEEN {params[0]} AND {params[1]}
                    GROUP BY yearkey ORDER BY yearkey""").fetchall()
            elif op == "genre_top":
                r = c.execute(f"""SELECT * FROM (SELECT b.genrekey, f.titlekey, f.num_votes,
                    row_number() OVER (PARTITION BY b.genrekey ORDER BY f.num_votes DESC, f.titlekey) AS rk
                    FROM fact_ratings f JOIN bridge_title_genre b ON f.titlekey = b.titlekey
                    WHERE f.yearkey = {params[0]} AND f.num_votes >= {MIN_VOTES})
                    WHERE rk <= 3 ORDER BY genrekey, rk""").fetchall()
            else:
                cos = self.cosines(params[0])
                order = np.lexsort((self.ids, -np.round(cos, 4)))[:10]
                r = [int(self.ids[i]) for i in order]
            self.cache[key] = r
        return self.cache[key]

    def check(self, op, params, rows):
        """(correct, recall or None) for one answered op."""
        want = self.expected(op, params)
        if op != "ann_topk":
            if len(rows) != len(want):
                return False, None
            return all(len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
                       for g, w in zip(rows, want)), None
        cos = self.cosines(params[0])
        pos = {int(i): k for k, i in enumerate(self.ids)}
        ids = [r[0] for r in rows]
        ok = (len(rows) == 10 and len(set(ids)) == 10 and [r[2] for r in rows] == list(range(1, 11))
              and all(i in pos and abs(round(float(cos[pos[i]]), 4) - r[1]) <= 1.01e-4
                      for i, r in zip(ids, rows))
              and all((rows[k][1], -rows[k][0]) >= (rows[k + 1][1], -rows[k + 1][0]) for k in range(9)))
        return ok, len(set(ids) & set(want)) / 10.0


def _same(x, y):
    if isinstance(x, float) or isinstance(y, float):
        return x is not None and y is not None and abs(float(x) - float(y)) <= 1e-9 * max(1.0, abs(float(y)))
    return x == y
