"""Seeded inputs and their oracle answers, kept as a cache made anew.

Inputs come from the repository's generator ``tools/gen_sf.py`` (used
unedited: its module-level ``SEED`` is set before ``gen`` runs, so the same
seed gives bit-identical parquet).  Oracle answers are computed by DuckDB
from the same parquet and stored beside it, so a run checks its results
without paying for the slow oracles (t52's) on every run.

Everything lives under ``perfbench/.inputs/`` (git-ignored) and is rebuilt
on demand.  To regenerate one seed's inputs and oracles by hand:

    python3 perfbench/inputs.py --seed 7
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".inputs")

# Corpus scale: sf0.02 of gen_sf's sf1 shape = 1,000 documents (20 planted
# near-duplicate and 2 planted exact-duplicate pairs) and 400 embeddings.
LLM_SF = 0.02
LLM_TABLES = ("documents", "embeddings")

# Operations of llm_corpus whose results are checked against a DuckDB
# oracle from ``__spark_entry__.oracle_sql()``.  d35 and the search
# operations are checked against Python computations instead (checks.py).
LLM_ORACLE_OPS = (
    "t31_text_stats",
    "t43_bpe_tokens",
    "t52_clean_corpus",
    "d34_dedup_exact",
    "d36_simhash_pairs",
    "t68_segment_dedup",
    "t71_contamination",
)

_DONE = "_complete.json"


def _load_gen_sf():
    path = os.path.join(ROOT, "tools", "gen_sf.py")
    spec = importlib.util.spec_from_file_location("_perfbench_gen_sf", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def llm_dir(seed: int) -> str:
    return os.path.join(CACHE, f"llm_corpus-s{seed}")


def _oracle_frames(data_dir: str, names) -> dict:
    """Run each named oracle query in DuckDB over the parquet in
    ``data_dir``; returns {name: pandas frame}."""
    import duckdb

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    try:
        return {n: con.execute(sqls[n]).fetchdf() for n in names}
    finally:
        con.close()


def build_llm(seed: int) -> str:
    """Generate the llm_corpus inputs and oracle answers for ``seed``
    (idempotent: a complete cache entry is reused)."""
    out = llm_dir(seed)
    if os.path.exists(os.path.join(out, _DONE)):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    gen_sf = _load_gen_sf()
    gen_sf.SEED = seed
    import contextlib
    import io

    with contextlib.redirect_stdout(io.StringIO()):
        gen_sf.gen(LLM_SF, tmp)
    # The corpus workload reads only these two tables.
    for p in glob.glob(os.path.join(tmp, "*.parquet")):
        if os.path.basename(p)[: -len(".parquet")] not in LLM_TABLES:
            os.remove(p)
    odir = os.path.join(tmp, "oracle")
    os.makedirs(odir)
    for name, pdf in _oracle_frames(tmp, LLM_ORACLE_OPS).items():
        pdf.to_pickle(os.path.join(odir, f"{name}.pkl"))
    with open(os.path.join(tmp, _DONE), "w") as fh:
        json.dump({"seed": seed, "sf": LLM_SF}, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def load_oracle(data_dir: str, name: str):
    import pandas as pd

    return pd.read_pickle(os.path.join(data_dir, "oracle", f"{name}.pkl"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--reuse", action="store_true",
                    help="keep a complete cache entry instead of rebuilding it")
    args = ap.parse_args()
    if not args.reuse:
        shutil.rmtree(llm_dir(args.seed), ignore_errors=True)
    print(build_llm(args.seed))


if __name__ == "__main__":
    main()
