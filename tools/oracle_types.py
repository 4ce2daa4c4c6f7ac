#!/usr/bin/env python3
"""Generate the golden oracle result-type registry (oracle_types.tsv).

Usage: python3 tools/oracle_types.py <sfDir> <oracle_sql.json> <out.tsv>

For every oracle SQL, BIND it in DuckDB (no execution) against views over
the sfDir parquet tables and record each result column's type KIND plus a
sha256 of the SQL text (with the checkout's mirror path tokenized, see
MIRROR_DIR). RegistrySmokeSpec pins the Spark result schema
against this file: a query whose oracle types drift int-vs-float fails
`sbt test`, and an edited oracle SQL fails the sha check until this tool
regenerates the golden — at which point the HUGEINT audit below re-runs
in real DuckDB. This is the registry-wide gate for the r15 red-row class
(an uncast HUGEINT oracle column materializing as double in the driver's
strict hash while every value is numerically equal).

Fails hard on any HUGEINT output column: there is no valid reason for an
oracle to emit one (CAST ... AS BIGINT at the oracle's final SELECT).
"""
import hashlib
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

INT_KINDS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
FLOAT_KINDS = {"FLOAT", "DOUBLE", "REAL"}

# The pickle oracles read the committed parquet mirror by absolute path
# (MwasPipelineQueries.mirrorDir). The hash is taken with that path replaced
# by a fixed token, so the golden holds in any checkout.
MIRROR_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "src", "test", "resources", "mwaspkl_mirror")
MIRROR_TOKEN = "<mwaspkl_mirror>"


def kind(t):
    s = str(t).upper()
    if s in INT_KINDS:
        return "int"
    # DECIMAL materializes as float64 in the harness's pandas frame, so
    # for hash purposes it is float-kind
    if s in FLOAT_KINDS or s.startswith("DECIMAL"):
        return "float"
    return "other"


def main(sf_dir, oracle_json, out_tsv):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(oracle_json))
    lines = []
    for name in sorted(oracle):
        rel = con.sql(oracle[name])
        huge = [c for c, t in zip(rel.columns, rel.types)
                if str(t).upper() == "HUGEINT"]
        if huge:
            print(f"{name}: HUGEINT output column(s) {huge} — "
                  f"CAST ... AS BIGINT in the oracle SQL")
            return 1
        bad = [c for c in rel.columns if ":" in c or "," in c or "\t" in c]
        if bad:
            print(f"{name}: column names unrepresentable in tsv: {bad}")
            return 1
        cols = ",".join(f"{c}:{kind(t)}"
                        for c, t in zip(rel.columns, rel.types))
        sha = hashlib.sha256(oracle[name].replace(MIRROR_DIR, MIRROR_TOKEN)
                             .encode("utf-8")).hexdigest()
        lines.append(f"{name}\t{sha}\t{cols}")
    with open(out_tsv, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {len(lines)} entries to {out_tsv}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3]))
