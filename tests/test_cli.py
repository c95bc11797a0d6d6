import shutil
import sys

import yaml

import yaetos_spark.cli as cli


def _write_registry(tmp_path, spark):
    spark.createDataFrame([(1, "click"), (2, "view"), (3, "click")], "id int, et string") \
        .write.parquet(str(tmp_path / "events_src"))
    sql_file = tmp_path / "agg.sql"
    sql_file.write_text("SELECT et, count(*) AS n FROM ev GROUP BY et\n")
    manifest = {
        "common_params": {"all_mode_params": {"base_path": str(tmp_path / "out"), "mode": "dev"}},
        "jobs": {
            "agg_job": {
                "sql_file": str(sql_file),
                "inputs": {"ev": {"path": str(tmp_path / "events_src"), "type": "parquet"}},
                "output": {"path": "{{base_path}}/agg/{{now}}", "type": "parquet"},
            },
            "downstream": {
                "py_job": "jobs.generic.copy_job",
                "dependencies": ["agg_job"],
                "inputs": {"src": {"path": "{{base_path}}/agg/{{latest}}", "type": "parquet", "from": "agg_job"}},
                "output": {"path": "{{base_path}}/copy/{{now}}", "type": "parquet"},
            },
        },
    }
    reg = tmp_path / "jobs.yml"
    reg.write_text(yaml.safe_dump(manifest))
    return str(reg)


def test_cli_single_job(spark, tmp_path, capsys):
    reg = _write_registry(tmp_path, spark)
    assert cli.main(["--job_name=agg_job", f"--registry={reg}"]) == 0
    out_dirs = list((tmp_path / "out" / "agg").iterdir())
    assert len(out_dirs) == 1
    assert spark.read.parquet(str(out_dirs[0])).count() == 2


def test_cli_dependencies_chain(spark, tmp_path):
    reg = _write_registry(tmp_path, spark)
    assert cli.main(["--job_name=downstream", "--dependencies", f"--registry={reg}"]) == 0
    copy_dirs = list((tmp_path / "out" / "copy").iterdir())
    assert spark.read.parquet(str(copy_dirs[0])).count() == 2


def test_cli_unknown_args_become_params(spark, tmp_path):
    reg = _write_registry(tmp_path, spark)
    # --repartition=1 flows into the job params via cmd_args
    assert cli.main(["--job_name=agg_job", f"--registry={reg}", "--repartition=1"]) == 0


def test_cli_sql_file_direct(spark, tmp_path, monkeypatch):
    sql = tmp_path / "direct.sql"
    sql.write_text("SELECT 1 AS one\n")
    assert cli.main([f"--sql_file={sql}"]) == 0


def test_cli_failure_alert_hook(spark, tmp_path, monkeypatch):
    reg_path = tmp_path / "bad.yml"
    reg_path.write_text(yaml.safe_dump({
        "jobs": {
            "bad_job": {
                "py_job": "jobs.generic.copy_job",
                "inputs": {"src": {"path": str(tmp_path / "missing"), "type": "parquet"}},
                "output": {"type": "None"},
                "owners": ["oncall@example.com"],
                "smtp_host": "smtp.example.com",
            }
        }
    }))
    sent = {}

    def fake_send(job_name, error, owners, smtp_host, smtp_port=25, sender=None):
        sent.update(job=job_name, owners=owners, host=smtp_host)

    import yaetos_spark.alerts as alerts

    monkeypatch.setattr(alerts, "send_failure_email", fake_send)
    try:
        cli.main(["--job_name=bad_job", f"--registry={reg_path}"])
        raised = False
    except Exception:
        raised = True
    assert raised
    assert sent == {"job": "bad_job", "owners": ["oncall@example.com"], "host": "smtp.example.com"}


def test_cli_new_scaffolds_runnable_project(spark, tmp_path, monkeypatch):
    """`cli new <dir>` emits a starter tree whose jobs run end-to-end:
    the SQL job over the bundled sample CSV, then the chained python
    job via --dependencies."""
    proj = tmp_path / "proj"
    assert cli.main(["new", str(proj)]) == 0
    for rel in [
        "conf/jobs.yml",
        "conf/sql/events_per_type.sql",
        "jobs/top_users_job.py",
        "data/sample_events.csv",
        "tests/conftest.py",
        "tests/test_top_users_job.py",
        "README.md",
        ".gitignore",
        "requirements.txt",
    ]:
        assert (proj / rel).exists(), rel
    # re-running must not clobber existing files
    marker = proj / "README.md"
    marker.write_text("customized")
    assert cli.main(["new", str(proj)]) == 0
    assert marker.read_text() == "customized"

    monkeypatch.chdir(proj)
    assert cli.main(["--job_name=events_per_type", "--registry=conf/jobs.yml"]) == 0
    out_dirs = list((proj / "output" / "events_per_type").iterdir())
    assert len(out_dirs) == 1
    assert spark.read.parquet(str(out_dirs[0])).count() > 0
    # the chained run below writes events_per_type again under a
    # one-second {{now}} stamp: clear this run's output so two runs
    # inside the same second don't collide on PATH_ALREADY_EXISTS
    shutil.rmtree(proj / "output" / "events_per_type")

    # chained python job: the scaffolded `jobs` package must shadow the
    # repo's own `jobs` package for the duration of the run
    monkeypatch.syspath_prepend(str(proj))
    saved = {k: v for k, v in sys.modules.items() if k == "jobs" or k.startswith("jobs.")}
    for k in saved:
        del sys.modules[k]
    try:
        assert cli.main(["--job_name=top_users", "--dependencies", "--registry=conf/jobs.yml"]) == 0
        top_dirs = list((proj / "output" / "top_users").iterdir())
        rows = spark.read.parquet(str(top_dirs[0])).collect()
        by_user = {r.user_id: r.total_events for r in rows}
        assert by_user == {1: 3, 2: 2, 3: 2}
    finally:
        for k in [k for k in sys.modules if k == "jobs" or k.startswith("jobs.")]:
            del sys.modules[k]
        sys.modules.update(saved)


def test_shipped_registry_every_job_resolves(tmp_path, monkeypatch):
    """Registry lint over conf/jobs.yml: every declared job must
    resolve end-to-end WITHOUT executing — params layer cleanly, the
    py_job module imports and contains a job class (or the sql_file
    exists), and every input/output spec carries a path or an
    in-memory 'from'. A typo'd module or dangling sql path in the
    shipped registry should fail here, not at 2am in a scheduler."""
    import os
    from pathlib import Path

    from yaetos_spark.plans.registry import Registry

    # anchor to the repo root so the lint holds no matter where pytest
    # was invoked from (ADVICE r5) — including chdir, because job
    # CONSTRUCTION itself opens registry-relative sql_file paths
    # against the cwd (launch-from-repo-root contract, same as the
    # reference's Commandliner)
    repo = Path(__file__).resolve().parents[1]
    monkeypatch.chdir(repo)
    reg = Registry.from_file(str(repo / "conf" / "jobs.yml"))
    names = reg.job_names()
    assert len(names) >= 10  # the shipped registry is non-trivial
    make = cli.job_factory(reg)
    for name in names:
        params = reg.job_params(name)
        job = make(name, params)  # imports the module / locates the class
        assert job is not None, name
        if params.get("sql_file"):
            sql_path = params["sql_file"]
            if not os.path.isabs(sql_path):
                sql_path = str(repo / sql_path)
            assert os.path.isfile(sql_path), (name, params["sql_file"])
        for in_name, spec in (params.get("inputs") or {}).items():
            assert spec.get("path") or spec.get("from") or spec.get("type") == "df", (
                name, in_name, spec,
            )


def test_cmd_arg_literal_coercion(monkeypatch, tmp_path):
    """--flag=False must arrive as bool False — the string 'False' is
    truthy and silently defeats boolean gates like enable_db_push
    (round-6 review finding); non-literals stay strings."""
    captured = {}

    def fake_factory(reg):
        def make(name, params):
            captured.update(params)

            class _J:
                def etl(self, spark):
                    return None

            return _J()

        return make

    monkeypatch.setattr(cli, "job_factory", fake_factory)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: None)
    import yaml

    reg = tmp_path / "jobs.yml"
    reg.write_text(yaml.safe_dump({"jobs": {"j": {"py_job": "x"}}}))
    rc = cli.main([
        "--job_name=j", f"--registry={reg}",
        "--enable_db_push=false", "--no_fw_cache=True", "--keep=3",
        "--period=2024.10", "--suffix=1_2", "--mode_note=prod-rollout",
    ])
    assert rc == 0
    assert captured["enable_db_push"] is False  # any-case booleans coerce
    assert captured["no_fw_cache"] is True
    assert captured["keep"] == 3
    # string-like values that LOOK like Python literals must NOT be
    # normalized before path templating ('2024.10' → 2024.1 would
    # silently mis-route {{period}} paths)
    assert captured["period"] == "2024.10"
    assert captured["suffix"] == "1_2"
    assert captured["mode_note"] == "prod-rollout"


def test_cli_winnow_overlap_job(spark, tmp_path):
    """The winnow_overlap_documents registry pattern end-to-end: the
    default rolling (Arrow production) impl runs through the CLI, and
    the md5 engine-portable impl finds the same planted near-dup pair
    via the job class — the documented per-pipeline hash-space choice
    (VERDICT r10 item 5)."""
    import pandas as pd

    from jobs.examples.winnow_overlap_job import WinnowOverlapJob

    shared = "the quick brown fox jumps over the lazy dog again and again " * 4
    rows = [(1, shared + "alpha tail one"), (2, shared + "beta tail two")] + [
        (10 + i, " ".join(f"w{i}x{j}" for j in range(30))) for i in range(8)
    ]
    src = tmp_path / "docs.parquet"
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(src)

    reg_path = tmp_path / "reg.yml"
    reg_path.write_text(yaml.safe_dump({
        "common_params": {"all_mode_params": {"base_path": str(tmp_path / "out"), "mode": "dev"}},
        "jobs": {
            "winnow_overlap_documents": {
                "py_job": "jobs.examples.winnow_overlap_job",
                "inputs": {"documents": {"path": str(src), "type": "parquet"}},
                "output": {"path": "{{base_path}}/winnow/{{now}}", "type": "parquet"},
                "hash_impl": "rolling",
                "min_shared": 4,
            }
        },
    }))
    assert cli.main(["--job_name=winnow_overlap_documents", f"--registry={reg_path}"]) == 0
    out_dirs = list((tmp_path / "out" / "winnow").iterdir())
    got = spark.read.parquet(str(out_dirs[0]))
    assert set(got.columns) == {"id_a", "id_b", "n_shared", "_created_at"}
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    # the planted near-dup pair is found; the distinct filler docs may
    # coincidentally share the odd fingerprint but never reach
    # min_shared with the planted docs
    assert (1, 2) in pairs
    assert {p for p in pairs if 1 in p or 2 in p} == {(1, 2)}

    # md5 impl: different hash space, same winnowing guarantee — the
    # planted pair must appear there too
    docs = spark.read.parquet(str(src))
    job = WinnowOverlapJob(params={"hash_impl": "md5", "min_shared": 4})
    md5_pairs = {(r.id_a, r.id_b) for r in job.transform(docs).collect()}
    assert (1, 2) in md5_pairs

    # keep=fingerprints returns the index-shaped rows
    fp_job = WinnowOverlapJob(params={"keep": "fingerprints"})
    fps = fp_job.transform(docs)
    assert set(fps.columns) == {"doc_id", "fingerprint"}
    assert fps.count() > 0

    import pytest

    with pytest.raises(ValueError, match="hash_impl"):
        WinnowOverlapJob(params={"hash_impl": "sha1"}).transform(docs)


def test_cli_vacuum_index_job(spark, tmp_path):
    """The vacuum_dedup_index registry pattern end-to-end: build a
    four-batch index, run the job through the CLI, check the batches
    through ``through_batch`` fold into -1 with every row kept and the
    stats row lands in the job output. ``through_batch`` is required."""
    import pytest

    from yaetos_spark.operators.dedup import minhash_signatures
    from yaetos_spark.streaming.batches import append_batch_exactly_once

    idx = tmp_path / "sig_index"
    docs = spark.createDataFrame(
        [(i, f"doc number {i} some words {i % 5}") for i in range(40)],
        "doc_id bigint, text string",
    )
    for b in range(4):
        append_batch_exactly_once(
            minhash_signatures(docs.where(f"doc_id % 4 = {b}")), b, str(idx)
        )
    reg_path = tmp_path / "reg.yml"
    reg_path.write_text(yaml.safe_dump({
        "common_params": {"all_mode_params": {"base_path": str(tmp_path / "out"), "mode": "dev"}},
        "jobs": {
            "vacuum_dedup_index": {
                "py_job": "jobs.generic.vacuum_index_job",
                "inputs": {},
                "output": {"path": "{{base_path}}/vacuum/{{now}}", "type": "parquet"},
                "index_dir": str(idx),
            }
        },
    }))
    argv = ["--job_name=vacuum_dedup_index", f"--registry={reg_path}"]
    with pytest.raises(ValueError, match="through_batch"):
        cli.main(argv)
    assert cli.main([*argv, "--through_batch=2"]) == 0
    stats_dirs = list((tmp_path / "out" / "vacuum").iterdir())
    row = spark.read.parquet(str(stats_dirs[0])).collect()[0]
    assert row.through_batch == 2 and row.rows == 40
    index = spark.read.parquet(str(idx))
    assert {r._batch_id for r in index.select("_batch_id").distinct().collect()} == {-1, 3}
    assert index.count() == 40


def test_cli_dsir_select_job(spark, tmp_path):
    """The dsir_select_documents registry pattern end-to-end: score by
    hashed n-gram importance against the en target domain through the
    CLI, keep the top fraction, and check the selection favors
    target-vocabulary docs; keep=scores returns every doc flagged."""
    import pandas as pd

    from jobs.examples.dsir_job import DsirSelectJob

    rows = (
        [(i, "alpha beta gamma delta epsilon zeta", "en") for i in range(10)]
        + [(100 + i, "uno dos tres cuatro cinco seis", "es") for i in range(10)]
    )
    src = tmp_path / "docs.parquet"
    pd.DataFrame(rows, columns=["doc_id", "text", "lang"]).to_parquet(src)

    reg_path = tmp_path / "reg.yml"
    reg_path.write_text(yaml.safe_dump({
        "common_params": {"all_mode_params": {"base_path": str(tmp_path / "out"), "mode": "dev"}},
        "jobs": {
            "dsir_select_documents": {
                "py_job": "jobs.examples.dsir_job",
                "inputs": {"documents": {"path": str(src), "type": "parquet"}},
                "output": {"path": "{{base_path}}/dsir/{{now}}", "type": "parquet"},
                "target_lang": "en",
                "fraction": 0.5,
            }
        },
    }))
    assert cli.main(["--job_name=dsir_select_documents", f"--registry={reg_path}"]) == 0
    out_dirs = list((tmp_path / "out" / "dsir").iterdir())
    got = spark.read.parquet(str(out_dirs[0]))
    kept = {r.doc_id for r in got.collect()}
    # top half by importance against the en domain = exactly the en docs
    assert kept == set(range(10))
    assert "dsir_logweight" in got.columns and "text" in got.columns

    # keep=scores returns every doc with its flag; Gumbel seed variant
    # still keeps the exact count
    docs = spark.read.parquet(str(src))
    scores = DsirSelectJob(params={"keep": "scores", "fraction": 0.5, "seed": 3}).transform(docs)
    rows_out = scores.collect()
    assert len(rows_out) == 20
    assert sum(r.selected for r in rows_out) == 10


def test_cli_exact_substr_job(spark, tmp_path):
    """The exact_substr_documents registry pattern end-to-end: the
    planted repeated span is cut from both carriers through the CLI;
    keep=spans returns the audit inventory."""
    import pandas as pd

    from jobs.examples.exact_substr_job import ExactSubstrJob

    shared = " ".join(f"s{i}" for i in range(12))
    # distinct framing words on each side: a shared token adjacent to
    # the span would legitimately extend it (k-grams straddling the
    # boundary repeat too)
    rows = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"uno dos {shared} tres cuatro"),
        (3, "independent content with no repeats at all whatsoever"),
    ]
    src = tmp_path / "docs.parquet"
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(src)

    reg_path = tmp_path / "reg.yml"
    reg_path.write_text(yaml.safe_dump({
        "common_params": {"all_mode_params": {"base_path": str(tmp_path / "out"), "mode": "dev"}},
        "jobs": {
            "exact_substr_documents": {
                "py_job": "jobs.examples.exact_substr_job",
                "inputs": {"documents": {"path": str(src), "type": "parquet"}},
                "output": {"path": "{{base_path}}/xs/{{now}}", "type": "parquet"},
                "k": 6,
            }
        },
    }))
    assert cli.main(["--job_name=exact_substr_documents", f"--registry={reg_path}"]) == 0
    out_dirs = list((tmp_path / "out" / "xs").iterdir())
    got = {r.doc_id: r for r in spark.read.parquet(str(out_dirs[0])).collect()}
    assert got[1].text == "alpha beta gamma delta" and got[1].n_removed_tokens == 12
    assert got[2].text == "uno dos tres cuatro" and got[2].n_removed_tokens == 12
    assert got[3].n_removed_tokens == 0

    # audit mode through the job class
    docs = spark.read.parquet(str(src))
    spans = ExactSubstrJob(params={"k": 6, "keep": "spans"}).transform(docs)
    assert set(spans.columns) == {"doc_id", "span_start", "span_end", "n_windows"}
    assert {r.doc_id for r in spans.collect()} == {1, 2}


def test_cli_mix_corpus_job(spark, tmp_path):
    """The mix_corpus_documents registry pattern end-to-end: an
    80/15/5 corpus remixed to exact 50/30/20 at a 40-row budget
    through the CLI (exact mode), with a max_epochs=2 upsample for the
    minority group; missing targets raise loudly."""
    import pandas as pd
    import pytest as _pytest

    from jobs.examples.mix_corpus_job import MixCorpusJob

    rows = [
        (i, "en" if i < 80 else ("fr" if i < 95 else "de"), f"doc {i}")
        for i in range(100)
    ]
    src = tmp_path / "docs.parquet"
    pd.DataFrame(rows, columns=["doc_id", "lang", "text"]).to_parquet(src)

    reg_path = tmp_path / "reg.yml"
    reg_path.write_text(yaml.safe_dump({
        "common_params": {"all_mode_params": {"base_path": str(tmp_path / "out"), "mode": "dev"}},
        "jobs": {
            "mix_corpus_documents": {
                "py_job": "jobs.examples.mix_corpus_job",
                "inputs": {"documents": {"path": str(src), "type": "parquet"}},
                "output": {"path": "{{base_path}}/mix/{{now}}", "type": "parquet"},
                "group_col": "lang",
                "targets": {"en": 0.5, "fr": 0.3, "de": 0.2},
                "budget": 40,
                "max_epochs": 2.0,
                "exact": True,
            }
        },
    }))
    assert cli.main(["--job_name=mix_corpus_documents", f"--registry={reg_path}"]) == 0
    out_dirs = list((tmp_path / "out" / "mix").iterdir())
    got = spark.read.parquet(str(out_dirs[0]))
    counts = {r.lang: r["count"] for r in got.groupBy("lang").count().collect()}
    # de has 5 docs; its 8-row quota = 1 full epoch + 3 at _epoch 1
    assert counts == {"en": 20, "fr": 12, "de": 8}
    assert "_epoch" in got.columns
    assert got.where("lang = 'de' and _epoch = 1").count() == 3

    docs = spark.read.parquet(str(src))
    with _pytest.raises(ValueError, match="targets"):
        MixCorpusJob(params={"budget": 10}).transform(docs)


def test_cli_bpe_tokenize_job(spark, tmp_path):
    """The bpe_tokenize_documents registry pattern end-to-end: learn
    merges from the input corpus through the CLI and tokenize it;
    keep=merges emits the ordered merge table."""
    import pandas as pd

    from jobs.examples.bpe_tokenize_job import BpeTokenizeJob

    rows = [(i, "low low low lower newest newest newest widest") for i in range(3)]
    src = tmp_path / "docs.parquet"
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(src)

    reg_path = tmp_path / "reg.yml"
    reg_path.write_text(yaml.safe_dump({
        "common_params": {"all_mode_params": {"base_path": str(tmp_path / "out"), "mode": "dev"}},
        "jobs": {
            "bpe_tokenize_documents": {
                "py_job": "jobs.examples.bpe_tokenize_job",
                "inputs": {"documents": {"path": str(src), "type": "parquet"}},
                "output": {"path": "{{base_path}}/bpe/{{now}}", "type": "parquet"},
                "n_merges": 4,
            }
        },
    }))
    assert cli.main(["--job_name=bpe_tokenize_documents", f"--registry={reg_path}"]) == 0
    out_dirs = list((tmp_path / "out" / "bpe").iterdir())
    got = spark.read.parquet(str(out_dirs[0]))
    assert got.count() == 3 and "bpe_tokens" in got.columns
    toks = got.collect()[0].bpe_tokens
    assert "est</w>" in toks  # the newest/widest family unit

    docs = spark.read.parquet(str(src))
    merges = BpeTokenizeJob(params={"keep": "merges", "n_merges": 4}).transform(docs)
    assert [tuple(r) for r in merges.collect()] == [
        (0, "e", "s"), (1, "es", "t"), (2, "est", "</w>"), (3, "l", "o")
    ]


def test_cli_charlm_filter_job(spark, tmp_path):
    """The charlm_filter_documents registry pattern end-to-end: fit on
    the en reference rows through the CLI, drop the gibberish doc,
    keep the fluent one; keep=scores returns every doc scored."""
    import pandas as pd

    from jobs.examples.charlm_filter_job import CharlmFilterJob

    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "the dog sat on the log", "en"),
        (3, "the cat sat on a mat", "xx"),
        (4, "zzqx vvkk jjww qqpp zzxx wwyy", "xx"),
    ]
    src = tmp_path / "docs.parquet"
    pd.DataFrame(rows, columns=["doc_id", "text", "lang"]).to_parquet(src)

    reg_path = tmp_path / "reg.yml"
    reg_path.write_text(yaml.safe_dump({
        "common_params": {"all_mode_params": {"base_path": str(tmp_path / "out"), "mode": "dev"}},
        "jobs": {
            "charlm_filter_documents": {
                "py_job": "jobs.examples.charlm_filter_job",
                "inputs": {"documents": {"path": str(src), "type": "parquet"}},
                "output": {"path": "{{base_path}}/lm/{{now}}", "type": "parquet"},
                "ref_lang": "en",
                "max_perplexity": 8.0,
            }
        },
    }))
    assert cli.main(["--job_name=charlm_filter_documents", f"--registry={reg_path}"]) == 0
    out_dirs = list((tmp_path / "out" / "lm").iterdir())
    got = spark.read.parquet(str(out_dirs[0]))
    kept = {r.doc_id for r in got.collect()}
    assert 3 in kept and 4 not in kept
    assert "perplexity" in got.columns

    docs = spark.read.parquet(str(src))
    scores = CharlmFilterJob(params={"keep": "scores", "ref_lang": "en"}).transform(docs)
    assert scores.count() == 4
