"""Checkpoint bytes by stage and by column, read from parquet footers.

For every stage table under a ``StageRunner`` checkpoint directory (one
sub-directory of ``*.parquet`` files per stage, as ``run_dedup`` writes),
prints the bytes on disk, the compression codec(s) and the top-level
columns ranked by compressed size.  Reads footers with pyarrow only; no
Spark session is started.  Usage::

    python tools/ckpt_bytes.py <checkpoint_dir>
"""
from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path


def _tree_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def stage_sizes(ckpt_dir: str | Path) -> dict[str, dict]:
    """``{stage: {"bytes", "codecs", "columns"}}`` for every sub-directory
    holding parquet files.  ``bytes`` counts every file in the directory
    (data, checksums, markers); ``columns`` is ``[(column, compressed
    bytes)]``, largest first, with nested leaves summed into their
    top-level column."""
    import pyarrow.parquet as pq

    out = {}
    for d in sorted(p for p in Path(ckpt_dir).iterdir() if p.is_dir()):
        files = sorted(d.glob("*.parquet"))
        if not files:
            continue
        cols: Counter[str] = Counter()
        codecs = set()
        for f in files:
            md = pq.ParquetFile(f).metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    chunk = rg.column(c)
                    cols[chunk.path_in_schema.split(".")[0]] += (
                        chunk.total_compressed_size
                    )
                    codecs.add(chunk.compression)
        out[d.name] = {
            "bytes": _tree_bytes(d),
            "codecs": sorted(codecs),
            "columns": cols.most_common(),
        }
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip().splitlines()[-1].strip(), file=sys.stderr)
        return 2
    ckpt = Path(argv[0])
    for stage, info in stage_sizes(ckpt).items():
        print(f"{stage:<12} {info['bytes']:>12,} B  {'/'.join(info['codecs'])}")
        for col, size in info["columns"]:
            print(f"  {col:<30} {size:>12,} B")
    print(f"{'total':<12} {_tree_bytes(ckpt):>12,} B  (every file, manifests "
          "included)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
