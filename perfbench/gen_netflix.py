"""Seeded Netflix Prize-format corpus for the `ingest` workload.

Lays the corpus out like the original dataset:

- `movie_titles.csv`: `MovieID,YearOfRelease,Title` rows. Some titles
  contain commas, some years are the literal `NULL`, some rows have only
  two fields (the title falls back to the year slot), one title is
  longer than the 500-character cap, and a few rows have a non-numeric
  id and must be dropped.
- `combined_data_1.txt` .. `combined_data_4.txt`: `MovieID:` header
  lines, each followed by `CustomerID,Rating,Date` detail lines. Movies
  split into four contiguous id ranges of about equal rating count, as
  in the original files. Block sizes follow a Zipf law, so a few blocks
  are large enough that text-split boundaries fall inside them and the
  parser has to carry the current movie across splits.
- A seeded share of malformed detail lines (non-numeric customer id, a
  missing field, a non-numeric rating, an impossible date) that the
  parser must drop.

`generate` returns the figures a correct load must reproduce: the
fact, customer and movie row counts and two rating checksums:
`rating_sum` = sum(rating) and `mix_checksum` =
sum((movie_id * 31 + customer_id % 1009) * rating + date_key % 97),
which also catches a rating attributed to the wrong movie.
"""
import datetime as dt
import os

import numpy as np

FILES = 4
ZIPF_S = 0.7
MALFORMED_SHARE = 0.002
DAY0 = dt.date(1999, 11, 11)
N_DAYS = (dt.date(2005, 12, 31) - DAY0).days + 1
# rows of the engine's default date dimension, 1998-10-01..2005-12-31
DIM_DATE_ROWS = (dt.date(2005, 12, 31) - dt.date(1998, 10, 1)).days + 1
WORDS = ("the of a night star dark return last man city love war "
         "house river king girl day story life blue").split()


def _title(rng, i):
    words = [WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(1, 5))]
    title = " ".join(words).title()
    if i % 7 == 0:
        title += ", Part " + str(i % 5 + 1)
    if i % 23 == 0:
        title = title + ": Season 1, Volume 2"
    return title


def generate(out_dir, n_ratings=400_000, seed=1):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_movies = max(40, n_ratings // 250)
    n_customers = max(100, n_ratings // 40)

    # sparse customer ids, as in the original 1..2,649,429 domain
    cust_pool = np.sort(rng.choice(2_649_429, n_customers, replace=False) + 1)
    # Zipf block sizes, ranks assigned to movies at random
    weights = 1.0 / np.arange(1, n_movies + 1) ** ZIPF_S
    sizes = np.maximum(1, np.round(n_ratings * weights / weights.sum()))
    sizes = rng.permutation(sizes.astype(np.int64))

    # movie_titles.csv
    lines = []
    long_title_at = int(rng.integers(1, n_movies + 1))
    for m in range(1, n_movies + 1):
        title = _title(rng, m)
        if m == long_title_at:
            title = ("Long " * 130).strip()
        r = rng.random()
        if r < 0.03:
            lines.append(f"{m},{title}")  # two-field row
        elif r < 0.08:
            lines.append(f"{m},NULL,{title}")
        else:
            lines.append(f"{m},{int(rng.integers(1896, 2006))},{title}")
        if rng.random() < 0.01:
            lines.append(f"x{m},{int(rng.integers(1896, 2006))},Bad Id Row")
    with open(os.path.join(out_dir, "movie_titles.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")

    # combined_data_N.txt: contiguous movie ranges of ~equal rating count,
    # each cut at the block boundary nearest its share
    ends = np.cumsum(sizes)
    starts = [0]
    for target in np.arange(1, FILES) * ends[-1] / FILES:
        i = int(np.searchsorted(ends, target))
        starts.append(i if i > 0 and target - ends[i - 1] < ends[i] - target
                      else i + 1)
    starts.append(n_movies)
    fact_rows = 0
    seen = np.zeros(n_customers, dtype=bool)
    ck_rating = ck_mix = 0
    bad = 0
    for f_i in range(FILES):
        parts = []
        for m0 in range(starts[f_i], starts[f_i + 1]):
            movie = m0 + 1
            k = int(sizes[m0])
            cidx = rng.integers(0, n_customers, k)
            cust = cust_pool[cidx]
            rating = rng.integers(1, 6, k)
            day = rng.integers(0, N_DAYS, k)
            dates = [DAY0 + dt.timedelta(days=int(d)) for d in day]
            keys = np.array([d.year * 10000 + d.month * 100 + d.day
                             for d in dates], dtype=np.int64)
            seen[cidx] = True
            fact_rows += k
            ck_rating += int(rating.sum())
            ck_mix += int(((movie * 31 + cust % 1009) * rating
                           + keys % 97).sum())
            detail = [f"{c},{r},{d.isoformat()}"
                      for c, r, d in zip(cust, rating, dates)]
            n_bad = int(rng.binomial(k, MALFORMED_SHARE))
            for pos in rng.integers(0, k + 1, n_bad):
                c = int(cust_pool[rng.integers(0, n_customers)])
                kind = int(rng.integers(0, 4))
                detail.insert(int(pos), (
                    f"c{c},3,2004-05-06", f"{c},4", f"{c},?,2003-01-02",
                    f"{c},2,2005-02-30")[kind])
            bad += n_bad
            parts.append(f"{movie}:")
            parts.extend(detail)
        with open(os.path.join(out_dir, f"combined_data_{f_i + 1}.txt"),
                  "w") as f:
            f.write("\n".join(parts) + "\n")
    return {"fact_rows": fact_rows, "customers": int(seen.sum()),
            "movies": n_movies, "rating_sum": ck_rating,
            "mix_checksum": ck_mix, "malformed_lines": bad,
            "max_block": int(sizes.max())}
