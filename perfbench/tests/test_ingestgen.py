"""The seeded ingest generator plants exactly the fault mix its ground
truth describes."""

from __future__ import annotations

import io
import json
import os
import zipfile

import pyarrow.parquet as pq
import pytest

from perfbench import ingestgen

N_ZIPS = 30


@pytest.fixture(scope="module")
def folder(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ingest"))
    return root, ingestgen.generate(root, seed=5, n_zips=N_ZIPS)


def _entries(path: str) -> dict[str, str]:
    with zipfile.ZipFile(path) as zf:
        return {i.filename: zf.read(i).decode("iso-8859-1") for i in zf.infolist()}


def test_every_file_is_accounted_for(folder):
    root, truth = folder
    on_disk = sorted(os.listdir(os.path.join(root, "drop")))
    assert on_disk == sorted(n for n, _ in truth["files"])
    assert len(on_disk) == N_ZIPS
    counts = ingestgen.fault_counts(N_ZIPS)
    assert truth["counts"] == counts
    kinds = [k for _, k in truth["files"]]
    for kind, k in counts.items():
        assert kinds.count(kind) == k
    assert kinds.count("dup_loser") == counts["dup_isbn"]
    with open(os.path.join(root, "truth.json")) as fh:
        assert json.load(fh) == truth


def test_planted_faults_match_the_ground_truth(folder):
    root, truth = folder
    drop = os.path.join(root, "drop")
    quarantined = dict(map(tuple, truth["quarantine"]))
    accepted, chapters = [], 0
    for name, kind in truth["files"]:
        path = os.path.join(drop, name)
        isbn = name[:13]
        if kind == "corrupt":
            with pytest.raises(zipfile.BadZipFile):
                _entries(path)
            assert quarantined.pop(name) == "EXTRACT_ZIP"
            continue
        entries = _entries(path)
        if kind == "no_book":
            assert f"{isbn}.txt" not in entries
            assert quarantined.pop(name) == "MISSING_BOOK_METADATA"
            continue
        assert "Genre: " in entries[f"{isbn}.txt"]
        genre = entries[f"{isbn}.txt"].split("Genre: ")[1].split("\n")[0]
        if kind == "bad_genre":
            assert genre not in ingestgen.GENRES
            assert quarantined.pop(name) == "INVALID_GENRE"
            continue
        assert genre in ingestgen.GENRES
        if kind in ("clean", "upper", "dup_isbn"):
            accepted.append(isbn)
            chapters += sum(e.startswith("chapter-") for e in entries)
        assert name.endswith({"upper": ".ZIP", "dup_isbn": ".Zip"}.get(kind, ".zip"))
    assert quarantined == {}
    assert sorted(accepted) == truth["control_isbns"]
    assert chapters == truth["chapters"]


def test_ledgers_hold_the_known_isbns(folder):
    root, truth = folder
    led = os.path.join(root, "ledgers")
    by_kind: dict[str, list[str]] = {}
    for name, kind in truth["files"]:
        by_kind.setdefault(kind, []).append(name[:13])
    zips = pq.read_table(os.path.join(led, "ingested_zips.parquet")).column("zip_name").to_pylist()
    assert sorted(zips) == sorted(f"{i}.zip" for i in by_kind["in_ingested"])
    for table, kind in (("workflows", "in_workflows"), ("completed_books", "in_completed")):
        isbns = pq.read_table(os.path.join(led, f"{table}.parquet")).column("isbn").to_pylist()
        assert sorted(isbns) == sorted(by_kind[kind])
    genres = pq.read_table(os.path.join(led, "valid_genres.parquet")).column("genre_name").to_pylist()
    assert genres == list(ingestgen.GENRES)


def test_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    ingestgen.generate(a, seed=9, n_zips=N_ZIPS)
    ingestgen.generate(b, seed=9, n_zips=N_ZIPS)
    ingestgen.generate(c, seed=10, n_zips=N_ZIPS)

    def content(root):
        drop = os.path.join(root, "drop")
        return {n: open(os.path.join(drop, n), "rb").read() for n in sorted(os.listdir(drop))}

    assert content(a) == content(b)
    assert content(a) != content(c)


def test_too_few_zips_is_refused():
    with pytest.raises(ValueError):
        ingestgen.fault_counts(8)
