"""Seeded MWAS input generator and its expectations.

The same (workload shape, seed, scale) always gives the same files:

  catalog.parquet        (bio_project, bio_sample, run, spots)
  input.csv              the user CSV: run, group, quantifier
  metadata_long.parquet  (bioproject, biosample_id, attribute, value)
  sets.parquet           the condensed sets (condenser schema, no set_id)
  bodies.json            server request bodies, one per bioproject
  expect.json            what a correct output must contain

The nominal shape is the sf0.1 mapping of graft.operators.MwasPipelineQueries:
20 bioprojects, 750 biosamples a bioproject (orders per customer as
replicate runs, ~10 a biosample, 150k runs), 5 groups, ~10 sets a
bioproject. Fixed by construction, per bioproject:

  - replicate runs: 1 .. 2*runs-1 runs a biosample;
  - spots = 0 catalog rows (~1 %), normalized with the 1e6 fallback;
  - catalog-only runs (~1/3, implicit zeros) and input-only runs (absent
    from the catalog, dropped by the pipeline);
  - rejected input rows (non-numeric or empty quantifier);
  - the size mix that sets the route mix: every fifth bioproject has 12-16
    biosamples (its sets of 4+ go to exact enumeration), the others 0.5-1.5x
    the mean size (Monte-Carlo); `rare` factors of 2-3 biosamples go to
    Welch;
  - one planted effect a large bioproject: group G<i%5> on the segment=s0
    side reads far above the rest, and every s0 biosample reports it.

The expected contrasts and routes are derived from the generated rows with
the pipeline's documented rules (group acceptance n_provided >= 3, both
sides >= 2, not both means zero; Welch below a side of 4 or above 20000
pooled; exact when C(n, k) <= 20000) and the condenser's rules r2-r6,
independently of the Spark plans they check.
"""
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

GROUPS = [f"G{g}" for g in range(5)]
NA = {"-1.#IND", "1.#QNAN", "1.#IND", "-1.#QNAN", "#N/A N/A", "#N/A", "N/A",
      "n/a", "NA", "<NA>", "#NA", "NULL", "null", "NaN", "-NaN", "nan",
      "-nan", "None", ""}  # MetadataCondenser.PandasNaValues
SIDE_CUTOFF = 4  # MwasConfig.permutationSideCutoff
EXACT_CUTOFF = 20000  # exactCutoff of the permutation kernel
MAX_POOLED = 20000  # MwasConfig.permMaxPooled

# the shapes that run; cli_ttest_x10 has 2x (not the name's 10x, which does
# not fit the run budget) cli_perm's biosamples and more attributes, and
# server_closed serves cli_perm's catalog and sets
SHAPES = {
    "cli_perm": dict(bioprojects=20, biosamples=750, runs=10, extra=False),
    "cli_ttest_x10": dict(bioprojects=20, biosamples=1500, runs=10, extra=True),
}
SHAPES["server_closed"] = SHAPES["cli_perm"]


def condense(attrs, n):
    """Condenser rules r2-r6 over one bioproject's attribute columns.
    Returns {(include, members tuple): [(attribute, value), ...]}."""
    sets = {}
    factors = 0
    for a, vs in attrs.items():
        by_value = {}
        for j, v in enumerate(vs):
            if v not in NA:
                by_value.setdefault(v, []).append(j)
        if not 1 < len(by_value) < n:
            continue
        for v, raw in by_value.items():
            if len(raw) <= 1:
                continue
            factors += 1
            include = len(raw) < n / 2.0
            members = tuple(raw) if include else tuple(
                sorted(set(range(n)) - set(raw)))
            sets.setdefault((include, members), []).append((a, v))
    return sets, factors


def generate(workload, seed, scale, out):
    """Write one workload's inputs at `scale` times its biosamples (1.0
    except in the smoke runs) and return the expectations."""
    shape = SHAPES[workload]
    only_t = workload == "cli_ttest_x10"
    bodies_wanted = workload != "cli_ttest_x10"
    rng = random.Random(seed * 1000003 + 17)
    mean_bs = max(20, round(shape["biosamples"] * scale))
    os.makedirs(out, exist_ok=True)
    cat = {"bio_project": [], "bio_sample": [], "run": [], "spots": []}
    meta = {"bioproject": [], "biosample_id": [], "attribute": [], "value": []}
    sets_cols = {"bioproject": [], "attributes": [], "values": [],
                 "members": [], "n_stored": [], "include": [],
                 "n_biosamples": []}
    inp = ["run,group,quantifier"]
    exp = {"per_bp": {}, "planted": [], "perm_sides": [], "sets": 0,
           "factors": 0, "valid_rows": 0, "rejected_rows": 0}
    bodies = {}
    run_seq = bs_seq = 0
    for i in range(shape["bioprojects"]):
        bp = f"PRJ{i:04d}"
        small = i % 5 == 4
        # sizes are fixed by position, so every seed does the same work
        n = 12 + 2 * ((i // 5) % 3) if small else max(
            8, round(mean_bs * (0.5 + (i * 7 % 16) / 15)))
        ids = []
        for _ in range(n):
            bs_seq += 1
            ids.append(f"SAMN{bs_seq:09d}")

        attrs = {
            "sample_name": [f"name_{j}" for j in range(n)],  # all unique: r2
            "platform": ["ILLUMINA"] * n,  # constant: r2
            "segment": [f"s{j % 3}" if small else f"s{rng.randrange(5)}"
                        for j in range(n)],
            "nation": [f"n{j % 2}" if small else f"n{rng.randrange(5)}"
                       for j in range(n)],
            "rare": ["yes" if j < 2 + i % 2 else "no" for j in range(n)],
        }
        if shape["extra"]:
            attrs["tissue"] = [f"t{rng.randrange(8)}" for _ in range(n)]
            attrs["sex"] = ["nan" if rng.random() < 0.05 else  # NA: r3
                            ("male" if rng.random() < 0.5 else "female")
                            for _ in range(n)]
            attrs["age_bin"] = [f"a{rng.randrange(6)}" for _ in range(n)]
        for a, vs in attrs.items():
            meta["bioproject"] += [bp] * n
            meta["biosample_id"] += ids
            meta["attribute"] += [a] * n
            meta["value"] += vs

        sets, factors = condense(attrs, n)
        exp["sets"] += len(sets)
        exp["factors"] += factors
        for (include, members), pairs in sets.items():
            pairs = sorted(pairs)
            sets_cols["bioproject"].append(bp)
            sets_cols["attributes"].append("; ".join(p[0] for p in pairs))
            sets_cols["values"].append("; ".join(p[1] for p in pairs))
            sets_cols["members"].append([ids[j] for j in members])
            sets_cols["n_stored"].append(len(members))
            sets_cols["include"].append(include)
            sets_cols["n_biosamples"].append(n)
        s0 = {j for j in range(n) if attrs["segment"][j] == "s0"}
        plant_group = i % 5
        plant = not small and SIDE_CUTOFF <= len(s0) < n / 2.0

        provided = [0] * 5
        nonzero = [False] * 5
        body = []
        for j in range(n):
            runs = 1 + rng.randrange(2 * shape["runs"] - 1)
            boosted = plant and j in s0
            for r in range(runs):
                run_seq += 1
                run = f"SRR{run_seq:010d}"
                spots = 0 if rng.random() < 0.01 else 500000 + rng.randrange(1500000)
                cat["bio_project"].append(bp)
                cat["bio_sample"].append(ids[j])
                cat["run"].append(run)
                cat["spots"].append(spots)
                # every planted biosample reports at least one run of the group
                g = plant_group if boosted and r == 0 else rng.randrange(5)
                if rng.random() < 2 / 3 or (boosted and r == 0):
                    if boosted and g == plant_group:
                        q = 50 + 50 * rng.random()
                    elif rng.random() < 0.3:
                        q = 0.0
                    else:
                        q = rng.expovariate(0.2)
                    qs = f"{q:.3f}"
                    inp.append(f"{run},{GROUPS[g]},{qs}")
                    exp["valid_rows"] += 1
                    provided[g] += 1
                    nonzero[g] |= float(qs) > 0
                    if bodies_wanted:
                        body.append(f'{{"run":"{run}","group":"{GROUPS[g]}",'
                                    f'"quantifier":{qs}}}')
                elif rng.random() < 0.002:
                    # a catalog-only run reported with an unreadable quantifier
                    inp.append(f"{run},{GROUPS[g]}," +
                               ("NA" if rng.random() < 0.5 else ""))
                    exp["rejected_rows"] += 1
            if rng.random() < 0.02:  # input-only run: not in the catalog
                inp.append(f"ERR{i}x{j},{GROUPS[rng.randrange(5)]},1.5")
                exp["valid_rows"] += 1
        if bodies_wanted:
            bodies[bp] = "[" + ",".join(body) + "]"

        e = {"contrasts": 0, "welch": 0, "exact": 0, "mc": 0}
        for g in range(5):
            if provided[g] < 3 or not nonzero[g]:
                continue
            for (include, members) in sets:
                n_true = len(members) if include else n - len(members)
                n_false = n - n_true
                if n_true < 2 or n_false < 2:
                    continue
                size_welch = min(n_true, n_false) < SIDE_CUTOFF or n > MAX_POOLED
                if not size_welch:
                    exp["perm_sides"].append([n, n_true])
                e["contrasts"] += 1
                if only_t or size_welch:
                    e["welch"] += 1
                elif math.comb(n, n_true) <= EXACT_CUTOFF:
                    e["exact"] += 1
                else:
                    e["mc"] += 1
                if plant and g == plant_group and include and set(members) == s0:
                    exp["planted"].append([bp, GROUPS[g], "segment", "s0"])
        exp["per_bp"][bp] = e

    pq.write_table(pa.table({
        "bio_project": pa.array(cat["bio_project"], pa.string()),
        "bio_sample": pa.array(cat["bio_sample"], pa.string()),
        "run": pa.array(cat["run"], pa.string()),
        "spots": pa.array(cat["spots"], pa.int64())}),
        os.path.join(out, "catalog.parquet"))
    pq.write_table(pa.table({k: pa.array(v, pa.string()) for k, v in meta.items()}),
                   os.path.join(out, "metadata_long.parquet"))
    pq.write_table(pa.table({
        "bioproject": pa.array(sets_cols["bioproject"], pa.string()),
        "attributes": pa.array(sets_cols["attributes"], pa.string()),
        "values": pa.array(sets_cols["values"], pa.string()),
        "members": pa.array(sets_cols["members"], pa.list_(pa.string())),
        "n_stored": pa.array(sets_cols["n_stored"], pa.int32()),
        "include": pa.array(sets_cols["include"], pa.bool_()),
        "n_biosamples": pa.array(sets_cols["n_biosamples"], pa.int32())}),
        os.path.join(out, "sets.parquet"))
    with open(os.path.join(out, "input.csv"), "w") as f:
        f.write("\n".join(inp) + "\n")
    with open(os.path.join(out, "bodies.json"), "w") as f:
        json.dump(bodies, f)
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(exp, f)
    return exp
