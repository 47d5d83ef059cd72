"""CLI parity (JASS_index / JASS_anytime / JASS_eval): the reference's
file-in/file-out workflow, end-to-end on the ten-document corpus."""

import os

import pytest

from jassv2_spark.cli import jass_anytime_main, jass_eval_main, jass_index_main
from jassv2_spark.fixtures import TEN_DOC_QUERIES, ten_documents


@pytest.fixture(scope="module")
def ten_ix(spark, tmp_path_factory):
    """`jass index -f docs.trec -o ix` over the ten documents, built once;
    the tests only read the index dir."""
    root = tmp_path_factory.mktemp("cli")
    trec = root / "docs.trec"
    trec.write_bytes(b"".join(r["html"] for r in ten_documents()))
    ix = str(root / "ix")
    assert jass_index_main(["-f", str(trec), "-o", ix]) == 0
    return ix


def test_cli_index_anytime_eval_roundtrip(spark, ten_ix, tmp_path, capsys):
    # --- jass index -f docs.trec -o ix ---------------------------------
    ix = ten_ix
    assert os.path.exists(os.path.join(ix, "stats.json"))

    # --- jass anytime -i ix -q queries.txt -k 3 ------------------------
    qfile = tmp_path / "queries.txt"
    qfile.write_text("q1 one\nq2 ten ten nine\nq3 zzz\n")
    run = str(tmp_path / "ranking.txt")
    assert jass_anytime_main(["-i", ix, "-q", str(qfile), "-k", "3", "-o", run]) == 0
    lines = [l.split() for l in open(run) if l.strip()]
    assert all(len(l) == 6 and l[1] == "Q0" for l in lines)
    by_q = {}
    for l in lines:
        by_q.setdefault(l[0], []).append(l[2])
    assert by_q["q1"] == ["10"]  # 'one' only in doc 10
    assert len(by_q["q2"]) == 3 and "q3" not in by_q  # OOV → no rows

    # raw parser flag: pre-normalized queries give the same run
    run_a = str(tmp_path / "ranking_a.txt")
    assert jass_anytime_main(["-i", ix, "-q", str(qfile), "-k", "3", "-a", "-o", run_a]) == 0
    assert open(run_a).read() == open(run).read()

    # --- jass eval -a qrels -r run -p ----------------------------------
    qrels = tmp_path / "qrels.txt"
    qrels.write_text("q1 0 10 1\nq2 0 10 1\nq2 0 9 1\nq2 0 1 1\n")
    assert jass_eval_main(["-a", str(qrels), "-r", run, "-p"]) == 0
    out = capsys.readouterr().out
    rows = {
        tuple(l.split("\t")[:2]): l.split("\t")[2]
        for l in out.splitlines()
        if l.count("\t") == 2
    }
    assert float(rows[("mrr", "q1")]) == 1.0  # doc 10 at rank 1
    assert ("mean_map", "all") in rows

    # price extension routes to the eCommerce metric family
    qrels_p = tmp_path / "qrels_price.txt"
    qrels_p.write_text(
        "PRICE 0 10 5.0\nPRICE 0 9 2.0\nPRICE 0 1 4.0\n"
        + "".join(f"PRICE 0 {d} 1.0\n" for d in range(2, 9))
        + "q1 0 10 1\nq2 0 10 1\nq2 0 9 1\n"
    )
    assert jass_eval_main(["-a", str(qrels_p), "-r", run]) == 0
    out_p = capsys.readouterr().out
    assert any("mean_buying_power" in l for l in out_p.splitlines())


def test_cli_anytime_oracle_rsv_file(spark, ten_ix, tmp_path):
    """`jass anytime -Q rsvfile` (the reference's oracle rsv@k mode): with
    each query's k-th score from a first run as its oracle, the run is
    identical to the run without -Q."""
    ix = ten_ix
    qfile = tmp_path / "queries.txt"
    qfile.write_text("".join(f"{qid} {q}\n" for qid, q in TEN_DOC_QUERIES))

    run = tmp_path / "ranking.txt"
    assert jass_anytime_main(["-i", ix, "-q", str(qfile), "-k", "3", "-o", str(run)]) == 0
    lines = [l.split() for l in run.read_text().splitlines() if l.strip()]
    rsv_file = tmp_path / "rsv.txt"
    rsv_file.write_text("".join(f"{l[0]} {l[4]}\n" for l in lines if l[3] == "3"))
    assert rsv_file.read_text()  # some query has k results

    run_q = tmp_path / "ranking_q.txt"
    argv = ["-i", ix, "-q", str(qfile), "-k", "3", "-Q", str(rsv_file), "-o", str(run_q)]
    assert jass_anytime_main(argv) == 0
    assert run_q.read_text() == run.read_text()


def test_cli_curate(tmp_path, capsys):
    import subprocess, sys
    out = str(tmp_path / "survivors")
    r = subprocess.run(
        [sys.executable, "-m", "jassv2_spark.cli", "curate",
         "-f", "/root/testdata/sf0.001/documents.parquet", "-o", out],
        capture_output=True, text=True, cwd="/root/repo", timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [l for l in r.stdout.splitlines() if l.split() and l.split()[0] in
             ("lang", "quality", "near_dup")]
    assert len(lines) == 3
    assert "survivors written" in r.stdout
    import duckdb
    n_out = duckdb.sql(f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
    final = int(lines[-1].rsplit("out=", 1)[1])
    assert n_out == final > 0
