"""Profile the benchmark dataset next to another copy of the tables.

    python3 perfbench/datacheck.py DIR

``DIR`` holds the same ten parquet tables (for example the engine's
sf0.1 test data). For every column the script prints the distinct
count, minimum, maximum, mean and 10/50/90% quantiles of the generated
dataset and of ``DIR``, plus the shapes the dashboard and corpus jobs
depend on: category sets, words per document, near-duplicate pairs,
embedding width and norm. Rows whose figures differ are marked ``*``;
sampling noise alone moves the minor digits of means and quantiles.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

from datagen import TABLES, build


def profile(data_dir: Path) -> dict[str, object]:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    one = lambda sql: con.execute(sql).fetchone()  # noqa: E731
    out: dict[str, object] = {}
    for t in TABLES:
        out[f"{t} rows"] = one(f"SELECT count(*) FROM {t}")[0]
        for col, typ, *_ in con.execute(f"DESCRIBE {t}").fetchall():
            key = f"{t}.{col}"
            if "[" in typ:
                out[f"{key} width"] = one(f"SELECT min(len({col})), max(len({col})) FROM {t}")
                out[f"{key} norm"] = tuple(round(x, 4) for x in one(
                    f"SELECT min(n), max(n) FROM (SELECT sqrt(list_sum("
                    f"list_transform({col}, x -> x * x))) n FROM {t})"))
                continue
            nd, lo, hi = one(f"SELECT count(DISTINCT {col}), min({col}), max({col}) FROM {t}")
            out[f"{key} distinct"] = nd
            out[f"{key} min..max"] = (str(lo)[:24], str(hi)[:24])
            if typ in ("DOUBLE", "FLOAT", "BIGINT", "INTEGER"):
                mean, qs = one(f"SELECT avg({col}), quantile_cont({col}, [0.1, 0.5, 0.9]) FROM {t}")
                out[f"{key} mean"] = round(mean, 2)
                out[f"{key} q10/50/90"] = tuple(round(q, 1) for q in qs)
            elif typ == "VARCHAR" and nd <= 64 and col not in ("n_name",):
                out[f"{key} values"] = tuple(sorted(
                    r[0] for r in con.execute(f"SELECT DISTINCT {col} FROM {t}").fetchall()))
    words = "SELECT len(string_split(text, ' ')) n FROM documents"
    out["documents words/doc min,max,mean"] = tuple(
        round(x, 1) for x in one(f"SELECT min(n), max(n), avg(n) FROM ({words})"))
    out["documents vocabulary"] = one(
        "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)")[0]
    out["documents text+' dup' copies"] = one(
        "SELECT count(*) FROM documents a JOIN documents b ON a.text = b.text || ' dup'")[0]
    out["events per user min,max"] = one(
        "SELECT min(c), max(c) FROM (SELECT count(*) c FROM events GROUP BY user_id)")
    out["lineitem per order min,max"] = one(
        "SELECT min(c), max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey)")
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1 or not Path(argv[0]).is_dir():
        print(__doc__, file=sys.stderr)
        return 2
    here = Path(__file__).resolve().parent
    gen, other = profile(build(here / ".cache")), profile(Path(argv[0]))
    print(f"{'':44s} {'generated':>34s} | {argv[0]}")
    for k in list(gen) + [k for k in other if k not in gen]:
        a, b = gen.get(k), other.get(k)
        mark = " " if a == b else "*"
        print(f"{mark} {k:42s} {str(a)[:34]:>34s} | {str(b)[:60]}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
