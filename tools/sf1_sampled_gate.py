"""Sampled-sf1 gate for the quadratic families (r9 verdict ask #3).

The r9 sf1 end-to-end rehearsal (SCALE.md) excluded 17 queries by cost
model: 9 word-bigram countjoin-family queries (predicted 2.88e9
candidate pairs full-width at sf1 — ~13 min/query at the measured
3.7M pairs/s, per side) and 8 embedding/component pair-family queries
(20k^2 x 64-dim interpreted-lambda scans; the first ran >40 min).
Correct exclusions, but they left those 17 with no magnitude check
above sf0.1.

This tool closes that hole with the `eval_lsh_sampled_quality`
precedent: a DETERMINISTIC md5-bucket sample (ops/sampling.
deterministic_sample, salt below — the same group-coherent bucket rule
both engines replay) of the two quadratic INPUT tables, sized so the
predicted pair volume stays inside the measured budget:

- documents: 10% (sf1's 50k docs -> ~5k; countjoin volume scales with
  sum C(df,2) ~ rate^2 -> ~1% of 2.88e9 ~ 29M pairs/query)
- embeddings: 10% (20k vectors -> ~2k = the sf0.1 scale where every
  brute-force query is measured green)

Everything else about the gate is UNCHANGED: the sampled tables are
written as a complete dataset directory (the 8 non-quadratic tables
hard-linked from sf1), and tools/check_oracle.py runs the REGISTERED
queries and their REGISTERED oracles verbatim against it — no
query-side special-casing, so a pass is the same cross-engine
rows+schema+typed-values proof as the main gate, at sf1 row magnitude
(doc lengths, vocab, value ranges are the sf1 generator's).

Usage:  python tools/sf1_sampled_gate.py [--rebuild]
Writes .scratch/sf1s (from .scratch/sf1; regenerates sf1 via
tools/make_sf.py if missing), prints the sample-size + predicted-
volume evidence, then execs the 16-query gate.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(REPO, ".scratch", "sf1")
SF1S = os.path.join(REPO, ".scratch", "sf1s")
SALT = "sf1s"
DOC_FRACTION = 0.10
EMB_FRACTION = 0.10

# the 16 of the 17 names the r9 rehearsal excluded (SCALE.md r9
# section) that are still registered
COUNTJOIN_FAMILY = [
    "dedup_jaccard_exact_join", "dedup_jaccard_prefix_join",
    "dedup_jaccard_auto", "dedup_weighted_jaccard_join",
    "dedup_containment_join", "eval_dedup_pair_overlap",
    "dedup_jaccard_pairs", "eval_lsh_candidate_quality",
    "eval_lsh_sampled_quality",
]
PAIR_FAMILY = [
    "dedup_component_profile", "dedup_components",
    "dedup_canonical_docs", "dedup_embed_cosine_pairs",
    "sample_split_leakage_safe",
    "embed_topk_bruteforce", "eval_ann_recall",
]


def _single_parquet(df, dest: str) -> None:
    """Write df as ONE parquet file at dest (the gate's <table>.parquet
    layout) via a tmp dir + move — preserves the exact Spark schema."""
    tmp = dest + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))
    assert len(part) == 1, part
    if os.path.exists(dest):
        os.remove(dest)
    shutil.move(part[0], dest)
    shutil.rmtree(tmp)


def build(rebuild: bool = False) -> None:
    from pyspark.sql import functions as F

    from nhs_data_pipeline_spark.ops.sampling import deterministic_sample
    from nhs_data_pipeline_spark.session import get_spark

    if not os.path.isdir(SF1):
        print(f"{SF1} missing — regenerating via tools/make_sf.py")
        # make_sf.py takes (out_dir, sf) positionally — calling it
        # bare crashed whenever the driver wiped .scratch (r12 fix)
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "make_sf.py"),
             SF1, "1.0"],
            check=True,
        )
    complete = all(
        os.path.exists(os.path.join(SF1S, f"{t}.parquet"))
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]
    )
    if complete and not rebuild:
        print(f"{SF1S} complete (use --rebuild to refresh)")
        return
    os.makedirs(SF1S, exist_ok=True)
    spark = get_spark("sf1-sampled-build")
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events",
    ]:
        src = os.path.join(SF1, f"{t}.parquet")
        dst = os.path.join(SF1S, f"{t}.parquet")
        if os.path.exists(dst):
            os.remove(dst)
        os.link(src, dst)  # same-FS hard link: zero-copy
    docs = spark.read.parquet(os.path.join(SF1, "documents.parquet"))
    embs = spark.read.parquet(os.path.join(SF1, "embeddings.parquet"))
    sdocs = deterministic_sample(docs, "doc_id", DOC_FRACTION, salt=SALT)
    sembs = deterministic_sample(embs, "vec_id", EMB_FRACTION, salt=SALT)
    _single_parquet(sdocs, os.path.join(SF1S, "documents.parquet"))
    _single_parquet(sembs, os.path.join(SF1S, "embeddings.parquet"))
    nd, ne = sdocs.count(), sembs.count()
    print(f"sampled documents: {nd} rows ({DOC_FRACTION:.0%}, salt={SALT!r})")
    print(f"sampled embeddings: {ne} rows ({EMB_FRACTION:.0%}, salt={SALT!r})")
    # the budget evidence: exact predicted countjoin volume on the
    # sample (the same aggregate the auto-dispatchers run), plus the
    # brute-force C(n,2)
    from nhs_data_pipeline_spark.llm.dedup import (
        _bigram_tokens,
        _countjoin_pair_volume,
    )

    sd = spark.read.parquet(os.path.join(SF1S, "documents.parquet"))
    toks = _bigram_tokens(sd, "text", "doc_id")
    cj = _countjoin_pair_volume(toks)
    print(f"predicted countjoin volume on the sample: {cj} pairs")
    print(f"brute-force pair volume on the sample: {ne * (ne - 1) // 2}")


def main() -> None:
    rebuild = "--rebuild" in sys.argv
    build(rebuild=rebuild)
    names = COUNTJOIN_FAMILY + PAIR_FAMILY
    print(f"\nrunning the {len(names)}-query gate against {SF1S}")
    rc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "check_oracle.py"),
            SF1S,
            *names,
        ]
    ).returncode
    sys.exit(rc)


if __name__ == "__main__":
    main()
