"""2.x decode pinned to a golden that lives in this repository.

tests/fixtures/legacy holds ic, jb and la files (two overlapping jb
generations, every cell kind, row tombstones, empty rows, one Deflate-
chunked file, one file truncated mid-row) written by
tools/make_legacy_fixture.py; tests/golden/decode_golden_legacy.parquet
is their decode, frozen from the pure-Python tuple and stream decoders
that ``decoder.scan_split`` replaced. Every way into the decoder must
reproduce it: ``scan_file``, the Spark source with forced 1 KB splits, and
``scan_split`` through each scanner."""

from __future__ import annotations

import glob
import logging
import os

import pyarrow.parquet as pq
import pytest

from aegisthus_spark.sstable import cparse, decoder, scan_file
from aegisthus_spark.sstable.compression import find_compression_sidecar
from aegisthus_spark.sstable.descriptor import parse_filename, version_of

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = os.path.join(ROOT, "tests", "fixtures", "legacy")
GOLDEN = os.path.join(ROOT, "tests", "golden", "decode_golden_legacy.parquet")
FILES = sorted(glob.glob(f"{FIXTURE}/**/*-Data.db", recursive=True))
TRUNCATED = os.path.join(FIXTURE, "truncated", "ks-t-jb-6-Data.db")


def _golden() -> list[tuple]:
    return [tuple(d.values()) for d in pq.read_table(GOLDEN).to_pylist()]


def _rel(cell: dict) -> tuple:
    """A decoded cell as a golden row: source_path fixture-relative."""
    return (os.path.relpath(cell["source_path"], FIXTURE),) + tuple(cell.values())[1:]


def _split_cells(path: str, **kw) -> list[tuple]:
    return [
        _rel(d)
        for b in decoder.scan_split(
            path, version=version_of(path),
            generation=parse_filename(path).generation,
            compression_path=find_compression_sidecar(path), **kw,
        )
        for d in b.to_pylist()
    ]


def test_fixture_covers_the_2x_layouts():
    assert {version_of(f) for f in FILES} == {"ic", "jb", "la"}
    assert sum(1 for f in FILES if find_compression_sidecar(f)) == 1
    kinds = {r[4] for r in _golden()}
    assert kinds == {"c", "d", "e", "x", "t", "r", "!"}


def test_scan_file_matches_golden():
    got = []
    for path in FILES:
        corrupt = []
        got += [_rel(c) for c in scan_file(
            path, errors="skip", on_corrupt=lambda p, e: corrupt.append(p))]
        if corrupt:
            rel = os.path.relpath(path, FIXTURE)
            gen = parse_filename(path).generation
            got.append((rel, gen, None, 0, "!", None, None, None, 0, None, None, None))
    assert got == _golden()


@pytest.mark.parametrize("c_scanner", [True, False], ids=["c", "python"])
def test_scan_split_matches_golden(monkeypatch, c_scanner):
    """Split by split at a 1 KB target, as the Spark source cuts them."""
    from aegisthus_spark.sources.sstable_source import _plan_one

    if c_scanner and not cparse.available():
        pytest.skip("no C compiler on this host")
    if not c_scanner:
        monkeypatch.setattr(cparse, "available", lambda: False)
    got = [
        row
        for path in FILES
        for (_, start, end, *_) in _plan_one(path, target_bytes=1024)
        for row in _split_cells(path, start=start, end=end, skip_corrupt=True)
    ]
    assert got == _golden()


@pytest.mark.parametrize("c_scanner", [True, False], ids=["c", "python"])
def test_corrupt_split_raises_the_decode_error(monkeypatch, c_scanner):
    """Without skip_corrupt a truncated split raises its decode error;
    the mmap of the file used to mask it with a BufferError."""
    if c_scanner and not cparse.available():
        pytest.skip("no C compiler on this host")
    if not c_scanner:
        monkeypatch.setattr(cparse, "available", lambda: False)
    with pytest.raises(ValueError, match="corrupt"):
        _split_cells(TRUNCATED)


def test_read_sstable_cells_forced_splits_matches_golden(spark):
    from aegisthus_spark.sources import plan_partitions, read_sstable_cells

    n_splits = len(plan_partitions(FILES, target_bytes=1024, combine_target=0))
    assert n_splits >= 2 * len(FILES), n_splits  # compressed file split too
    rows = read_sstable_cells(
        spark, [FIXTURE], target_bytes=1024, combine=False, skip_corrupt=True
    ).collect()
    got = [_rel(r.asDict()) for r in rows]
    assert sorted(got, key=repr) == sorted(_golden(), key=repr)


def test_python_fallback_is_logged_once(monkeypatch, caplog):
    monkeypatch.setattr(cparse, "available", lambda: False)
    monkeypatch.setattr(decoder, "_warned_fallback", False)
    path = os.path.join(FIXTURE, "jb", "ks-t-jb-2-Data.db")
    with caplog.at_level(logging.WARNING, logger=decoder.__name__):
        _split_cells(path)
        _split_cells(path)
    warned = [r for r in caplog.records if "C scanner unavailable" in r.getMessage()]
    assert len(warned) == 1


def test_compressed_split_decompresses_only_its_chunks(monkeypatch):
    """Index-planned splits end on a row start, so a compressed split
    decompresses exactly the chunks covering [start, end) and no slack
    past them, and still decodes the golden cells."""
    from aegisthus_spark.sources.sstable_source import _plan_one
    from aegisthus_spark.sstable.compression import CompressionInfo

    path = os.path.join(FIXTURE, "compressed", "ks-t-jb-5-Data.db")
    info = CompressionInfo.read_path(find_compression_sidecar(path))
    cl = info.chunk_length
    assert cl == 512
    asked = []
    decompress = CompressionInfo.decompress

    def spy(self, f, file_size, lo, hi):
        asked.append((lo, hi))
        return decompress(self, f, file_size, lo, hi)

    monkeypatch.setattr(CompressionInfo, "decompress", spy)
    splits = _plan_one(path, target_bytes=1024)
    assert len(splits) > 2
    got = []
    for _, start, end, *_ in splits:
        asked.clear()
        got += _split_cells(path, start=start, end=end, skip_corrupt=True)
        end = info.data_length if end is None else end
        assert asked == [(start // cl, -(-end // cl))], (start, end)
    assert got == [r for r in _golden() if r[0] == os.path.relpath(path, FIXTURE)]


def test_c_scan_split_leaves_pandas_unimported():
    """Decode workers build their batches without pandas: ``pa.array``
    imports it (~75 MB of RSS per worker), ``pa.Array.from_buffers`` does
    not. Run in a fresh interpreter, since this one has pandas loaded."""
    import subprocess
    import sys

    if not cparse.available():
        pytest.skip("no C compiler on this host")
    code = (
        "import sys\n"
        "from aegisthus_spark.sstable import cparse, decoder\n"
        "assert cparse.available()\n"
        f"paths = {sorted(glob.glob(f'{FIXTURE}/jb/*-Data.db'))!r}\n"
        "assert len(paths) == 2, paths\n"
        "n = sum(b.num_rows for p in paths for b in decoder.scan_split(p, version='jb'))\n"
        "assert n > 0\n"
        "print('pandas' in sys.modules)\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                         text=True, check=True)
    assert out.stdout.strip() == "False", out
