"""Generate the small deterministic inputs for examples/*.yaml.

    python examples/make_inputs.py [--out examples/data]

Writes three parquet tables:

- ``transcripts.parquet`` — synthetic conversation corpus (the engine's
  primary payload shape; see easylink_spark/synth.py) for
  ``examples/dedup.yaml``.
- ``input_file_ssa.parquet`` / ``input_file_w2.parquet`` — two small
  person-record datasets shaped like the reference tutorial's demo inputs
  (/root/reference/docs/source/tutorial/create_inputs_demo.ipynb schema:
  ssn, first_name, middle_name|middle_initial, last_name, Record ID) for
  ``examples/tutorial.yaml``.  Same-person rows across the two files get
  correlated names/SSNs with light typo noise, so the linkage demo has
  true matches to find.

Everything is seeded — rerunning produces byte-identical inputs.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pandas as pd

FIRST = ["alice", "bob", "carol", "dan", "erin", "frank", "grace", "heidi",
         "ivan", "judy", "mallory", "niaj", "olivia", "peggy", "rupert",
         "sybil", "trent", "victor", "wendy", "yolanda"]
LAST = ["smith", "johnson", "lee", "garcia", "chen", "patel", "kim",
        "nguyen", "brown", "davis", "miller", "wilson", "moore", "taylor",
        "thomas", "white"]
MIDDLE = ["a", "b", "c", "d", "e", "f", "g", "h", "j", "k"]


def _person_frame(seed: int, n: int, dataset: str) -> pd.DataFrame:
    """n rows drawn from a shared universe of ``n`` simulated people; the
    w2 file perturbs ~15% of first names by one character (typo) so exact
    AND fuzzy comparison levels both matter."""
    g = np.random.default_rng(seed)
    person = np.arange(n)
    # first names are (nearly) person-unique — strong linkage signal; the
    # 16 shared last names create colliding blocks full of hard negatives
    first = [FIRST[i % len(FIRST)] + (str(i // len(FIRST)) if i >= len(FIRST)
                                      else "") for i in person]
    if dataset == "w2":
        for i in g.choice(n, size=max(1, n // 7), replace=False):
            s = first[i]
            first[i] = s[:-1] if len(s) > 3 else s + "e"
    rows = {
        "ssn": [f"{123000000 + 7 * i:09d}" for i in person],
        "first_name": first,
        "last_name": [LAST[(i * 3) % len(LAST)] for i in person],
        "Record ID": np.arange(n, dtype="int64"),
    }
    if dataset == "ssa":
        rows["middle_name"] = [MIDDLE[i % len(MIDDLE)] + "ane" for i in person]
    else:
        rows["middle_initial"] = [MIDDLE[i % len(MIDDLE)] for i in person]
    return pd.DataFrame(rows)


def main(out: str = "examples/data", n_entities: int = 200,
         n_people: int = 120) -> None:
    os.makedirs(out, exist_ok=True)
    _person_frame(11, n_people, "ssa").to_parquet(
        os.path.join(out, "input_file_ssa.parquet"), index=False)
    _person_frame(13, n_people, "w2").to_parquet(
        os.path.join(out, "input_file_w2.parquet"), index=False)

    from easylink_spark.session import get_spark
    from easylink_spark.synth import synth_transcripts

    spark = get_spark("examples_make_inputs", cores=4, shuffle_partitions=4)
    (synth_transcripts(spark, n_entities=n_entities, seed=7, partitions=4)
     .drop("entity_id")
     .write.mode("overwrite")
     .parquet(os.path.join(out, "transcripts.parquet")))
    print(f"wrote transcripts + ssa/w2 demo inputs under {out}/")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="examples/data")
    ap.add_argument("--entities", type=int, default=200)
    a = ap.parse_args()
    main(out=a.out, n_entities=a.entities)
