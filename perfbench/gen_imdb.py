"""Seeded IMDB-shaped inputs for the imdb_pipeline workload.

Reproduces the reference data's quirks (FIXTURES.md section A):
  - train-1.csv .. train-8.csv whose header starts with a comma (the
    unnamed pandas index column, with gaps), `\\N` sentinels in
    startYear/endYear/runtimeMinutes, empty numVotes cells, True/False
    labels, accented and non-English titles, some empty titles;
  - validation_hidden.csv: the same columns without the label;
  - writing.json: one-line top-level JSON array of {movie, writer};
  - directing.json: one JSON object in pandas "columns" orient;
  - genre_cache.csv: tconst,genre covering every train movie, half of
    the validation movies and some movies of neither set.

A learnable label rule is planted (vote count, runtime, decade and
genre), balanced around its median, with 8% of labels flipped. The
held-out validation labels go to validation_labels.csv, which the
pipeline never reads. Uncached validation movies get the genre the
program's StubPredictor will assign (Java String.hashCode mod 18), so
the rule stays learnable through the enrichment step.

The same seed gives byte-identical files.

Usage: python3 perfbench/gen_imdb.py <out_dir> <seed> [<n_train> <n_valid>]
"""
import json
import math
import os
import random
import sys

GENRES = ["Action", "Adventure", "Animation", "Biography", "Comedy",
          "Crime", "Documentary", "Drama", "Family", "Fantasy",
          "History", "Horror", "Music", "Mystery", "Romance",
          "Sci-Fi", "Thriller", "War"]
GENRE_EFFECT = {"Documentary": 0.8, "Biography": 0.6, "Drama": 0.5,
                "History": 0.5, "War": 0.4, "Horror": -0.8,
                "Action": -0.4, "Comedy": -0.3, "Fantasy": -0.3}
TITLE_WORDS = ["The", "Doll", "Night", "Déstiny", "River", "Café", "Golden",
               "Return", "of", "a", "Man", "Woman", "Città", "Nuit", "Lost",
               "Story", "Zorro's", "Garçon", "Last", "Train", "Ça", "Dream",
               "Straße", "Señor", "Fire!", "Love", "War", "City", "Ghost"]
FOREIGN_WORDS = ["Der", "müde", "Tod", "Die", "Puppe", "La", "Règle", "du",
                 "jeu", "Los", "Olvidados", "El", "Ángel", "Tōkyō", "Monogatari",
                 "Smultronstället", "Ladri", "di", "biciclette"]
NOISE = 0.08
TRAIN_FILES = 8
HEADER = ",tconst,primaryTitle,originalTitle,startYear,endYear,runtimeMinutes,numVotes"


def java_hash(s):
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h - (1 << 32) if h >= (1 << 31) else h


def stub_genre(tconst):
    return GENRES[java_hash(tconst) % len(GENRES)]


def _title(rng, words, lo, hi):
    return " ".join(rng.choice(words) for _ in range(rng.randint(lo, hi)))


def _csv_field(s):
    return f'"{s}"' if "," in s else s


def generate(out, seed, n_train=8000, n_valid=1000):
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    n = n_train + n_valid
    ids = rng.sample(range(100_000, 40_000_000), n)
    writers = [f"nm{rng.randint(1_000_000, 9_999_999):07d}" for _ in range(n // 3)]
    directors = [f"nm{rng.randint(10_000_000, 19_999_999)}" for _ in range(n // 4)]
    movies = []
    for i, num in enumerate(ids):
        tconst = f"tt{num:07d}" if num < 10_000_000 else f"tt{num}"
        year = rng.randint(1915, 2023) if rng.random() > 0.3 else rng.randint(1990, 2023)
        runtime = min(240, max(45, int(rng.gauss(100, 25))))
        votes = float(int(10 ** rng.uniform(1.5, 6.0)))
        in_train = i < n_train
        cached = in_train or (i - n_train) % 2 == 0
        genre = rng.choice(GENRES) if cached else stub_genre(tconst)
        score = (0.9 * (math.log10(votes) - 3.75) / 1.3
                 + 0.7 * (runtime - 100) / 25
                 + (0.5 if year >= 1990 else -0.2)
                 + GENRE_EFFECT.get(genre, 0.0))
        primary = _title(rng, TITLE_WORDS, 1, 4) if rng.random() > 0.02 else ""
        r = rng.random()
        original = (primary if r < 0.75 else
                    _title(rng, FOREIGN_WORDS, 1, 4) if r < 0.97 else "")
        movies.append({
            "tconst": tconst, "primary": primary, "original": original,
            "start": "\\N" if rng.random() < 0.01 else str(year),
            "end": str(year + rng.randint(0, 5)) if rng.random() < 0.1 else "\\N",
            "runtime": "\\N" if rng.random() < 0.05 else str(runtime),
            "votes": "" if rng.random() < 0.09 else f"{votes:.1f}",
            "genre": genre, "cached": cached, "score": score,
            "writers": rng.sample(writers, rng.choice([1, 1, 2, 2, 3, 4])),
            "directors": rng.sample(directors, rng.choice([1, 1, 1, 1, 2])),
        })
    cut = sorted(m["score"] for m in movies)[n // 2]
    for m in movies:
        m["label"] = (m["score"] > cut) != (rng.random() < NOISE)

    def row(idx, m, with_label):
        fields = [str(idx), m["tconst"], _csv_field(m["primary"]),
                  _csv_field(m["original"]), m["start"], m["end"],
                  m["runtime"], m["votes"]]
        if with_label:
            fields.append("True" if m["label"] else "False")
        return ",".join(fields) + "\n"

    train, valid = movies[:n_train], movies[n_train:]
    per_file = math.ceil(n_train / TRAIN_FILES)
    idx = 0
    for f in range(TRAIN_FILES):
        with open(os.path.join(out, f"train-{f + 1}.csv"), "w", encoding="utf-8") as fh:
            fh.write(HEADER + ",label\n")
            for m in train[f * per_file:(f + 1) * per_file]:
                idx += rng.randint(1, 3)
                fh.write(row(idx, m, True))
    with open(os.path.join(out, "validation_hidden.csv"), "w", encoding="utf-8") as fh:
        fh.write(HEADER + "\n")
        for i, m in enumerate(valid):
            fh.write(row(i, m, False))
    with open(os.path.join(out, "validation_labels.csv"), "w") as fh:
        fh.write("tconst,label\n")
        for m in valid:
            fh.write(f"{m['tconst']},{'True' if m['label'] else 'False'}\n")

    pairs = [{"movie": m["tconst"], "writer": w} for m in movies for w in m["writers"]]
    with open(os.path.join(out, "writing.json"), "w") as fh:
        fh.write(json.dumps(pairs, separators=(",", ":")))
    dpairs = [(m["tconst"], d) for m in movies for d in m["directors"]]
    with open(os.path.join(out, "directing.json"), "w") as fh:
        fh.write(json.dumps({
            "movie": {str(i): mv for i, (mv, _) in enumerate(dpairs)},
            "director": {str(i): d for i, (_, d) in enumerate(dpairs)}},
            separators=(",", ":")))

    extra = [f"tt{rng.randint(40_000_000, 49_999_999)}" for _ in range(n // 20)]
    with open(os.path.join(out, "genre_cache.csv"), "w") as fh:
        fh.write("tconst,genre\n")
        for m in movies:
            if m["cached"]:
                fh.write(f"{m['tconst']},{m['genre']}\n")
        for t in extra:
            fh.write(f"{t},{rng.choice(GENRES)}\n")
    return {"train": n_train, "valid": n_valid,
            "valid_uncached": sum(1 for m in valid if not m["cached"]),
            "cache_rows": sum(1 for m in movies if m["cached"]) + len(set(extra))}


if __name__ == "__main__":
    args = sys.argv[1:]
    sizes = [int(a) for a in args[2:4]]
    print(json.dumps(generate(args[0], int(args[1]), *sizes)))
