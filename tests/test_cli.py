"""The deployment surface end-to-end: python -m crawlspark and a REAL
spark-submit --py-files run of the same module (north_rule: 'run via
spark-submit --py-files')."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pyspark
import pytest

REPO = Path(__file__).resolve().parent.parent


def _run(cmd, **kw):
    env = dict(os.environ)
    env["PYTHONPATH"] = str(REPO)
    return subprocess.run(cmd, capture_output=True, text=True, env=env,
                          timeout=420, **kw)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("cli")
    pages = str(tmp / "pages.parquet")
    r = _run([sys.executable, "-m", "crawlspark", "--master", "local[4]",
              "--shuffle-partitions", "4", "synth", "--n", "300",
              "--out", pages])
    assert r.returncode == 0, r.stderr[-2000:]
    return tmp, pages


class TestCli:
    def test_crawl_resume_and_status(self, corpus):
        tmp, pages = corpus
        wh = str(tmp / "wh")
        base = [sys.executable, "-m", "crawlspark", "--master", "local[4]",
                "--shuffle-partitions", "4"]
        r = _run(base + ["crawl", "--pages", pages, "--warehouse", wh,
                         "--seeds", pages + ".seeds.parquet",
                         "--max-waves", "1"])
        assert r.returncode == 0, r.stderr[-2000:]
        lines = [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]
        assert lines[-1]["waves"] == 1 and lines[-1]["total_fetched"] > 0

        # resume: same warehouse continues from the committed snapshot
        r2 = _run(base + ["crawl", "--pages", pages, "--warehouse", wh,
                          "--max-waves", "10"])
        assert r2.returncode == 0, r2.stderr[-2000:]
        lines2 = [json.loads(l) for l in r2.stdout.splitlines()
                  if l.startswith("{")]
        done = lines2[-1]
        assert done["total_fetched"] > 0
        # continued, not restarted: the first wave of run 2 picks up
        # AFTER run 1's single committed wave
        assert lines2[0]["wave"] == 2

        r3 = _run(base + ["status", "--warehouse", wh])
        st = json.loads(r3.stdout.splitlines()[-1])
        assert st["latest_wave"] >= 2 and st["urls_fetched"] >= 300
        assert "frontier" in st["tables"] and "seen" in st["tables"]

    def test_spark_submit_py_files(self, corpus):
        """The literal production shape: spark-submit --py-files zip."""
        tmp, pages = corpus
        zpath = str(tmp / "crawlspark.zip")
        r = _run([sys.executable, "-m", "crawlspark", "package",
                  "--out", zpath])
        assert r.returncode == 0 and Path(zpath).exists()

        submit = Path(pyspark.__path__[0]) / "bin" / "spark-submit"
        wh = str(tmp / "wh_submit")
        env = dict(os.environ)
        env.pop("PYTHONPATH", None)  # only --py-files provides the pkg
        r = subprocess.run(
            [str(submit), "--master", "local[4]", "--py-files", zpath,
             str(REPO / "crawlspark" / "__main__.py"),
             "crawl", "--pages", pages, "--warehouse", wh,
             "--seeds", pages + ".seeds.parquet", "--max-waves", "2"],
            capture_output=True, text=True, env=env, timeout=420)
        assert r.returncode == 0, r.stderr[-3000:]
        done = json.loads(r.stdout.splitlines()[-1])
        assert done["total_fetched"] > 0


def test_crawl_new_warehouse_needs_seeds(tmp_path, monkeypatch):
    """A new warehouse has no frontier to resume: crawl refuses it
    without --seeds before any Spark session starts."""
    import crawlspark.session
    from crawlspark.__main__ import main

    started = []
    monkeypatch.setattr(crawlspark.session, "get_spark",
                        lambda *a, **k: started.append(a))
    wh = tmp_path / "wh"
    wh.mkdir()
    with pytest.raises(SystemExit) as exc:
        main(["crawl", "--pages", str(tmp_path / "missing.parquet"),
              "--warehouse", str(wh)])
    assert "--seeds" in str(exc.value)
    assert started == []


def test_refused_crawl_and_status_leave_no_warehouse(tmp_path, monkeypatch,
                                                     capsys):
    """Opening a warehouse creates nothing: a crawl refused for a
    missing --seeds and a status read of a new path both leave the path
    absent (the first commit creates the directory)."""
    import crawlspark.session
    from crawlspark.__main__ import main

    monkeypatch.setattr(crawlspark.session, "get_spark",
                        lambda *a, **k: pytest.fail("Spark started"))
    wh = tmp_path / "wh"
    with pytest.raises(SystemExit, match="--seeds"):
        main(["crawl", "--pages", str(tmp_path / "missing.parquet"),
              "--warehouse", str(wh)])
    assert not wh.exists()
    assert main(["status", "--warehouse", str(wh)]) == 0
    assert json.loads(capsys.readouterr().out)["snapshots"] == 0
    assert not wh.exists()
