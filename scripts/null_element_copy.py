#!/usr/bin/env python3
"""Copy a testdata directory with one NULL-element embedding.

Usage:

    python3 scripts/null_element_copy.py <src> <dst>

Every file of <src> is copied to <dst> unchanged except
embeddings.parquet, which DuckDB rewrites with element 3 (1-based) of
vec_id 40's embedding set to NULL; every other row, and the column
types, stay as they are. The copy exercises the embedding readers'
NULL-element guard: Verify plus scripts/check.py over it shows which
oracles still raise on such a row ("list_inner_product: ... can not
contain NULL values") and which Spark entries drop it."""
import os
import shutil
import sys

import duckdb

VEC_ID = 40
ELEMENT = 3


def main(src, dst):
    if os.path.abspath(src) == os.path.abspath(dst):
        sys.exit("null_element_copy: <dst> must differ from <src>")
    os.makedirs(dst, exist_ok=True)
    for name in sorted(os.listdir(src)):
        if name == "embeddings.parquet":
            continue
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            shutil.copytree(s, d, dirs_exist_ok=True)
        else:
            shutil.copy2(s, d)
    emb_in = os.path.join(src, "embeddings.parquet")
    emb_out = os.path.join(dst, "embeddings.parquet")
    con = duckdb.connect()
    con.execute("SET preserve_insertion_order = true")
    typ = dict(con.execute(
        f"SELECT column_name, column_type FROM (DESCRIBE SELECT * FROM "
        f"'{emb_in}')").fetchall())["embedding"]
    n = con.execute(f"SELECT count(*) FROM '{emb_in}' WHERE vec_id = "
                    f"{VEC_ID} AND len(embedding) >= {ELEMENT}").fetchone()[0]
    if n != 1:
        sys.exit(f"null_element_copy: expected one vec_id {VEC_ID} with "
                 f">= {ELEMENT} elements in {emb_in}, found {n}")
    con.execute(
        f"COPY (SELECT * REPLACE (CASE WHEN vec_id = {VEC_ID} THEN "
        f"CAST(list_transform(range(1, len(embedding) + 1), "
        f"i -> CASE WHEN i = {ELEMENT} THEN NULL ELSE embedding[i] END) "
        f"AS {typ}) ELSE embedding END AS embedding) "
        f"FROM '{emb_in}') TO '{emb_out}' (FORMAT PARQUET)")
    nulls = con.execute(
        f"SELECT count(*) FROM '{emb_out}' WHERE "
        f"len(list_filter(embedding, x -> x IS NULL)) > 0").fetchone()[0]
    print(f"{dst}: embeddings.parquet rewritten, {nulls} row(s) with a "
          f"NULL element (vec_id {VEC_ID}, element {ELEMENT})")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
