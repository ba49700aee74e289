"""Compare the benchmark's generated tables with a reference table directory.

    python3 perfbench/fixture_compare.py --ref <dir with the fixture parquet files> --sf 0.01

Generates the tables ``datagen`` writes at ``--sf`` into a temporary
directory and prints, side by side with the same figures for ``--ref``,
what the benchmark's workloads depend on: row counts, the value domain of
every column, the duplicate structure of ``documents`` (exact duplicates and
the Jaccard-0.8 clusters that ``dedup_connected_components`` finds), the
spread of ``embeddings`` around their label centroids, and the shape of the
order/part graph that ``graph_label_propagation`` walks. Exits 1 when a row
count differs, or a structural figure by more than sampling noise
(see ``close``). Column domains are printed for reading, not gated.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))

# Jaccard-0.8 pairs over word 3-shingles, as in the dedup_connected_components
# oracle
_PAIRS_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
sh AS (
  SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(arr) - 2)) AS i) u
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
"""

# Structural figures are drawn from random samples, so they agree only up to
# sampling noise: counts within two Poisson standard deviations (at least 2),
# ratios and means within TOLERANCE of each other. Row counts must be equal.
TOLERANCE = 0.15

# name -> SQL returning one row of structural figures
STRUCTURE = {
    "documents.exact_dup_docs": "SELECT count(*) - count(DISTINCT text) FROM documents",
    "documents.words": (
        "SELECT min(len(string_split(text, ' '))), max(len(string_split(text, ' '))),"
        " round(avg(len(string_split(text, ' '))), 0) FROM documents"
    ),
    "embeddings.dim_labels": (
        "SELECT min(len(embedding)), max(len(embedding)), count(DISTINCT label) FROM embeddings"
    ),
    "lineitem.lines_per_order": (
        "SELECT min(n), max(n), round(avg(n), 1) FROM"
        " (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY l_orderkey)"
    ),
    "lineitem.orders_with_lines": "SELECT count(DISTINCT l_orderkey) FROM lineitem",
}


def connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def column_stats(con, table: str) -> dict[str, tuple]:
    """Per column: (type, min, max, distinct count) with numbers rounded."""
    out = {}
    for name, typ, *_ in con.execute(f"DESCRIBE {table}").fetchall():
        if typ.endswith("[]"):
            row = con.execute(
                f"SELECT min(len({name})), max(len({name})), NULL FROM {table}"
            ).fetchone()
        else:
            row = con.execute(
                f"SELECT min({name}), max({name}), approx_count_distinct({name}) FROM {table}"
            ).fetchone()
        out[name] = (typ,) + tuple(round(v, 2) if isinstance(v, float) else v for v in row)
    return out


def embedding_spread(con) -> tuple[float, float]:
    """(mean norm, mean cosine to the vector's own label centroid)."""
    import numpy as np

    df = con.execute("SELECT embedding, label FROM embeddings").df()
    v = np.stack(df["embedding"].to_numpy()).astype(np.float64)
    labels = df["label"].to_numpy()
    cos = np.empty(len(v))
    for lbl in np.unique(labels):
        idx = labels == lbl
        c = v[idx].mean(axis=0)
        cos[idx] = v[idx] @ c / (np.linalg.norm(v[idx], axis=1) * np.linalg.norm(c))
    return round(float(np.linalg.norm(v, axis=1).mean()), 3), round(float(cos.mean()), 2)


def dedup_clusters(con) -> tuple[int, int, int]:
    """(Jaccard-0.8 pairs, clusters they form, largest cluster), the
    clusters being the connected components dedup_connected_components
    labels."""
    pairs = con.execute(_PAIRS_SQL).fetchall()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    sizes: dict[int, int] = {}
    for x in list(parent):
        sizes[find(x)] = sizes.get(find(x), 0) + 1
    return len(pairs), len(sizes), max(sizes.values(), default=0)


def close(a, b) -> bool:
    if a is None or b is None:
        return False
    for x, y in zip(a, b):
        if isinstance(x, int) and isinstance(y, int):
            allowed = max(2.0, 2.0 * math.sqrt(max(abs(x), abs(y))))
        else:
            allowed = TOLERANCE * max(abs(x), abs(y))
        if abs(x - y) > allowed:
            return False
    return True


def profile(sf_dir: str) -> dict:
    con = connect(sf_dir)
    tables = [r[0] for r in con.execute("SHOW TABLES").fetchall()]
    prof = {"rows": {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in tables}}
    prof["columns"] = {t: column_stats(con, t) for t in tables}
    prof["structure"] = {k: tuple(con.execute(q).fetchone()) for k, q in STRUCTURE.items()}
    prof["structure"]["documents.jaccard08_pairs_clusters_largest"] = dedup_clusters(con)
    prof["structure"]["embeddings.norm_centroid_cos"] = embedding_spread(con)
    return prof


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ref", required=True, help="directory of reference parquet tables")
    ap.add_argument("--sf", type=float, required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    import datagen

    with tempfile.TemporaryDirectory() as tmp:
        gen = profile(datagen.write_tables(tmp, args.sf))
    ref = profile(args.ref)
    differ = 0
    for key in ("rows", "structure"):
        for name in sorted(set(ref[key]) | set(gen[key])):
            a, b = ref[key].get(name), gen[key].get(name)
            ok = a == b if key == "rows" else close(a, b)
            mark = "  " if a == b else ("~ " if ok else "!=")
            differ += not ok
            print(f"{mark} {key}.{name}: ref {a}  gen {b}")
    for table in sorted(ref["columns"]):
        for col, a in ref["columns"][table].items():
            b = gen["columns"].get(table, {}).get(col)
            mark = "  " if a == b else "~ "
            print(f"{mark} column {table}.{col}: ref {a}  gen {b}")
    print(f"{differ} row-count or structural figures differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
