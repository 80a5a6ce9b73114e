"""Seeded drop-folder generator for the ingest workload.

Writes ``{ISBN}.zip`` book archives with a planted fault mix, the three
idempotency ledgers and the genre dimension that ``pipeline.Ledgers.load``
reads, and ``truth.json``: what one land of the folder must produce.

Fault mix (each class gets ``max(1, round(share * n_zips))`` files; the
rest are clean):

- ``corrupt``: truncated ZIP bytes, quarantined as EXTRACT_ZIP;
- ``no_book``: no ``{isbn}.txt`` entry, quarantined as MISSING_BOOK_METADATA;
- ``bad_genre``: genre absent from the dimension, quarantined as INVALID_GENRE;
- ``dup_isbn``: the same ISBN twice in the batch, as ``{isbn}.Zip`` and
  ``{isbn}.zip``; the lexically smaller path (``.Zip``) wins, the other
  yields no row at all;
- ``in_ingested`` / ``in_workflows`` / ``in_completed``: ISBNs one ledger
  already holds, dropped before parse with no row at all;
- ``upper``: a clean archive spelled ``{isbn}.ZIP``, accepted.
"""

from __future__ import annotations

import io
import json
import os
import random
import zipfile
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

GENRES = ("Fiction", "NonFiction", "Science", "History", "Biography",
          "Mystery", "Romance", "Fantasy", "Poetry", "Travel")
FAULT_SHARES = {
    "corrupt": 0.04, "no_book": 0.04, "bad_genre": 0.04, "dup_isbn": 0.04,
    "in_ingested": 0.03, "in_workflows": 0.03, "in_completed": 0.03,
    "upper": 0.04,
}
QUARANTINE_CODE = {"corrupt": "EXTRACT_ZIP", "no_book": "MISSING_BOOK_METADATA",
                   "bad_genre": "INVALID_GENRE"}
BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)


def fault_counts(n_zips: int) -> dict[str, int]:
    """How many ISBNs each fault class gets; ``clean`` takes the rest."""
    counts = {k: max(1, round(share * n_zips)) for k, share in FAULT_SHARES.items()}
    counts["clean"] = n_zips - sum(counts.values()) - counts["dup_isbn"]
    if counts["clean"] < 1:
        raise ValueError(f"{n_zips} ZIPs is too few for the fault mix")
    return counts


def _book_txt(rng: random.Random, isbn: str, genre: str, n_chapters: int) -> bytes:
    return (
        "# book record\n"
        f"Title=Book {isbn[-4:]}\n"
        f"Genre: {genre}\n"
        f"Authors Author {rng.randint(1, 50)} \\\n"
        "   (et al.)\n"
        f"NrOfChapters\t=\t{n_chapters}\n"
        f"NrOfPages : {rng.randint(80, 900)}\n"
        "Publisher=BestPub \\u00e9ditions\n"
    ).encode("iso-8859-1")


def _zip_bytes(rng: random.Random, isbn: str, genre: str, n_chapters: int,
               with_book: bool = True) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        if with_book:
            zf.writestr(f"{isbn}.txt", _book_txt(rng, isbn, genre, n_chapters))
        for n in range(1, n_chapters + 1):
            zf.writestr(f"chapter-{n}.txt", (
                f"ChapterNumber={n}\nChapterTitle=Chapter {n}\n"
                f"ChapterAuthor=Author {rng.randint(1, 50)}\n"
            ).encode("iso-8859-1"))
    return buf.getvalue()


def generate(root: str, seed: int, n_zips: int) -> dict:
    """Write ``root/drop``, ``root/ledgers`` and ``root/truth.json``.

    Returns the ground truth: ``control_isbns`` (sorted), ``quarantine``
    (sorted ``[file name, error_code]`` pairs), ``chapters`` (chapter
    entries across accepted books), ``files`` (sorted ``[file name,
    class]`` pairs for every file written; the losing copy of a
    duplicate ISBN has class ``dup_loser``) and ``counts`` (ISBNs per
    fault class)."""
    rng = random.Random(seed)
    counts = fault_counts(n_zips)
    n_isbns = sum(counts.values())
    isbns = [f"978{n:010d}" for n in rng.sample(range(10**10), n_isbns)]
    drop, ledgers = os.path.join(root, "drop"), os.path.join(root, "ledgers")
    os.makedirs(drop)
    os.makedirs(ledgers)

    control, quarantine, chapters, files = [], [], 0, []
    known: dict[str, list[str]] = {"in_ingested": [], "in_workflows": [], "in_completed": []}

    def put(name: str, data: bytes) -> None:
        with open(os.path.join(drop, name), "wb") as fh:
            fh.write(data)

    pos = 0
    for kind, k in counts.items():
        for isbn in isbns[pos:pos + k]:
            n_ch = rng.randint(1, 8)
            genre = "Cooking" if kind == "bad_genre" else rng.choice(GENRES)
            data = _zip_bytes(rng, isbn, genre, n_ch, with_book=kind != "no_book")
            if kind == "corrupt":
                data = data[:40]
            if kind == "dup_isbn":
                loser = f"{isbn}.zip"
                put(loser, _zip_bytes(rng, isbn, rng.choice(GENRES), rng.randint(1, 8)))
                files.append([loser, "dup_loser"])
                name = f"{isbn}.Zip"
            else:
                name = f"{isbn}.ZIP" if kind == "upper" else f"{isbn}.zip"
            put(name, data)
            files.append([name, kind])
            if kind in QUARANTINE_CODE:
                quarantine.append([name, QUARANTINE_CODE[kind]])
            elif kind in known:
                known[kind].append(isbn)
            else:
                control.append(isbn)
                chapters += n_ch
        pos += k

    def ts(n: int) -> pa.Array:
        return pa.array([BASE_TS] * n, pa.timestamp("us", tz="UTC"))

    wf = known["in_workflows"]
    pq.write_table(pa.table({"genre_name": list(GENRES)}),
                   os.path.join(ledgers, "valid_genres.parquet"))
    pq.write_table(pa.table({"zip_name": [f"{i}.zip" for i in known["in_ingested"]],
                             "ingest_ts": ts(len(known["in_ingested"]))}),
                   os.path.join(ledgers, "ingested_zips.parquet"))
    pq.write_table(pa.table({
        "workflow_id": [f"wf-{i}" for i in wf],
        "isbn": wf,
        "book_title": [f"Book {i[-4:]}" for i in wf],
        "book_genre": ["Fiction"] * len(wf),
        "book_authors": ["Author 1"] * len(wf),
        "nr_of_chapters": pa.array([3] * len(wf), pa.int32()),
        "nr_of_pages": pa.array([120] * len(wf), pa.int32()),
        "publishing_date": ts(len(wf)),
    }), os.path.join(ledgers, "workflows.parquet"))
    pq.write_table(pa.table({"isbn": known["in_completed"],
                             "year": pa.array([2025] * len(known["in_completed"]), pa.int32()),
                             "completed_ts": ts(len(known["in_completed"]))}),
                   os.path.join(ledgers, "completed_books.parquet"))

    truth = {"control_isbns": sorted(control), "quarantine": sorted(quarantine),
             "chapters": chapters, "files": sorted(files), "counts": counts}
    with open(os.path.join(root, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1)
    return truth
