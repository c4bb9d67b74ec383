"""CLI surface (reference main.py typer commands + show_data.py): the
`python -m crawlspark` subcommands drive the engine end to end, and `top`
prints the show-data-style top-k listing with a row total + last-job line.
"""

from __future__ import annotations

import json

import pytest

pytestmark = pytest.mark.slow  # end-to-end CLI pipeline drive (minutes)

from crawlspark.__main__ import main


@pytest.fixture(scope="module")
def crawled_store(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("cli")
    fx = str(base / "fx")
    st = str(base / "st")
    assert main(["datagen", "--out", fx, "--images", "20", "--urls", "80",
                 "--hosts", "4", "--strata", "3"]) == 0
    assert main(["init", "--fixtures", fx, "--store", st]) == 0
    assert main(["crawl", "--store", st, "--images",
                 f"{fx}/image_caption.parquet", "--batch-size", "40",
                 "--max-epochs", "8"]) == 0
    return st


def test_top_lists_k_rows_by_metric(crawled_store, capfd):
    capfd.readouterr()  # drop the crawl chatter
    assert main(["top", "--store", crawled_store, "--k", "3",
                 "--metric", "psnr_db"]) == 0
    out = capfd.readouterr().out
    lines = [l for l in out.splitlines() if l.strip()]
    header = lines[0]
    assert "psnr_db" in header and "url" in header and "status" in header
    # header + rule + k rows, then the totals/job footer
    body = [l for l in lines[2:] if not l.startswith(("total rows:",
                                                      "last job:"))]
    assert len(body) == 3
    # rows are in descending metric order
    col = header.split().index("psnr_db")
    vals = [float(l.split()[col]) for l in body]
    assert vals == sorted(vals, reverse=True)
    assert any(l.startswith("total rows:") for l in lines)
    job_line = next(l for l in lines if l.startswith("last job:"))
    assert json.loads(job_line[len("last job:"):])["status"] == "completed"


def test_top_rejects_unknown_metric(crawled_store, capfd):
    assert main(["top", "--store", crawled_store, "--metric",
                 "not_a_column"]) == 1
    assert "not_a_column" in capfd.readouterr().err


def test_top_rejects_missing_table(tmp_path, capfd):
    from crawlspark.tables import SnapshotStore

    SnapshotStore(str(tmp_path / "empty"))  # store with no commits
    assert main(["top", "--store", str(tmp_path / "empty")]) == 1


def test_compact_is_the_maintenance_pass(spark, crawled_store, capfd):
    """``compact`` runs ``maintain_store``: one commit for every table's
    rewrite, url_seen bucketed like in-loop maintenance, rows unchanged."""
    from crawlspark.tables import SnapshotStore, partition_state

    store = SnapshotStore(crawled_store)
    before = store.snapshot()
    n_log = store.read(spark, "crawl_log").count()
    capfd.readouterr()
    assert main(["compact", "--store", crawled_store]) == 0
    out = json.loads(capfd.readouterr().out.strip().splitlines()[-1])
    snap = store.snapshot()
    assert snap.commit_id == before.commit_id + 1 == out["commit_id"]
    parts, loose = partition_state(snap, "url_seen")
    assert parts and loose == []
    assert out["compacted_files"]["crawl_log"] > 1
    assert len(snap.tables["crawl_log"]) == 1
    assert store.read(spark, "crawl_log").count() == n_log
