"""``tools/ckpt_bytes.py``: per-stage, per-column checkpoint bytes from
parquet footers, on tiny tables written here with pyarrow (no Spark)."""

from __future__ import annotations

import importlib.util
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq

_TOOL = pathlib.Path(__file__).resolve().parents[1] / "tools" / "ckpt_bytes.py"
_spec = importlib.util.spec_from_file_location("ckpt_bytes", _TOOL)
ckpt_bytes = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ckpt_bytes)


def _write_stage(base: pathlib.Path, name: str, codec: str) -> None:
    d = base / name
    d.mkdir()
    table = pa.table({
        "id": [f"conv_{i:04d}" for i in range(200)],
        "turns": [[f"turn {i} " * 20, f"reply {i} " * 30] for i in range(200)],
        "n": list(range(200)),
    })
    pq.write_table(table.slice(0, 100), d / "part-0.parquet", compression=codec)
    pq.write_table(table.slice(100), d / "part-1.parquet", compression=codec)
    (d / "_SUCCESS").write_bytes(b"")


def test_stage_sizes_from_footers(tmp_path):
    _write_stage(tmp_path, "records", "zstd")
    _write_stage(tmp_path, "pairs", "snappy")
    (tmp_path / "records._manifest.json").write_text("{}")
    (tmp_path / "empty").mkdir()

    sizes = ckpt_bytes.stage_sizes(tmp_path)
    assert list(sizes) == ["pairs", "records"]
    rec = sizes["records"]
    assert rec["codecs"] == ["ZSTD"]
    assert sizes["pairs"]["codecs"] == ["SNAPPY"]
    assert rec["bytes"] == sum(
        p.stat().st_size for p in (tmp_path / "records").iterdir())
    # nested leaves fold into their top-level column, ranked by size
    cols = dict(rec["columns"])
    assert set(cols) == {"id", "turns", "n"}
    assert [c for c, _ in rec["columns"]][0] == "turns"
    expected = 0
    for f in (tmp_path / "records").glob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        expected += sum(md.row_group(g).column(1).total_compressed_size
                        for g in range(md.num_row_groups))
    assert cols["turns"] == expected


def test_main_prints_every_stage_and_the_total(tmp_path, capsys):
    _write_stage(tmp_path, "records", "zstd")
    assert ckpt_bytes.main([str(tmp_path)]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0].startswith("records") and out[0].endswith("ZSTD")
    ranked = [(ln.split()[0], int(ln.split()[1].replace(",", "")))
              for ln in out[1:4]]
    assert ranked == ckpt_bytes.stage_sizes(tmp_path)["records"]["columns"]
    assert ranked[0][0] == "turns"
    assert [n for _, n in ranked] == sorted((n for _, n in ranked), reverse=True)
    total = sum(p.stat().st_size for p in tmp_path.rglob("*") if p.is_file())
    assert out[-1].split()[:2] == ["total", f"{total:,}"]
    assert ckpt_bytes.main([]) == 2
