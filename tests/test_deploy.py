"""Deploy/invoke harness (§2A op 26 re-expressed for Spark, r11).

The reference's four deployment verbs — package (prepare_lambda.sh),
create-or-update with config (deploy_lambda.py:39-142), smoke invoke
(deploy_lambda.py:145-192), schedule (setup_schedule.py) — pinned
against their Spark twins: deterministic artifact, idempotent
versioned manifests, dry-run spark-submit argv, local invoke summary.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from aws_data_pipeline_ads_spark import deploy
from tests.test_pipeline import AS_OF, POSTS, PRODUCTS, USERS_WRAPPED, fake_http

PKG = os.path.dirname(os.path.abspath(deploy.__file__))


def test_build_package_is_deterministic(tmp_path):
    a = deploy.build_package(PKG, str(tmp_path / "a.zip"))
    b = deploy.build_package(PKG, str(tmp_path / "b.zip"))
    assert a["sha256"] == b["sha256"]          # content-addressable
    assert a["n_files"] > 20 and a["n_bytes"] > 10_000
    with open(str(tmp_path / "a.zip"), "rb") as fa, \
            open(str(tmp_path / "b.zip"), "rb") as fb:
        assert fa.read() == fb.read()          # byte-identical rebuild
    import zipfile

    names = zipfile.ZipFile(str(tmp_path / "a.zip")).namelist()
    assert "aws_data_pipeline_ads_spark/lakelog.py" in names
    assert not any("__pycache__" in n for n in names)


def test_deploy_create_noop_update(tmp_path):
    art = deploy.build_package(PKG, str(tmp_path / "pkg.zip"))
    spec = deploy.JobSpec(env={"BUCKET_NAME": "lake-bucket"})
    d = str(tmp_path / "deploys")
    m1 = deploy.deploy_job(d, spec, art)
    assert (m1["action"], m1["version"]) == ("create", 1)
    # identical redeploy: the idempotent no-op, standing manifest back
    m2 = deploy.deploy_job(d, spec, art)
    assert (m2["action"], m2["version"]) == ("noop", 1)
    # changed config: update, version bumps, history retained
    spec2 = deploy.JobSpec(env={"BUCKET_NAME": "lake-bucket"},
                           executor_memory="8g")
    m3 = deploy.deploy_job(d, spec2, art)
    assert (m3["action"], m3["version"]) == ("update", 2)
    with open(f"{d}/data-pipeline-etl/000001.json") as f:
        assert json.load(f)["spec"]["executor_memory"] == "4g"
    # the rendered submit command is the real argv shape
    cmd = m3["submit_command"]
    assert cmd[0] == "spark-submit"
    assert cmd[cmd.index("--executor-memory") + 1] == "8g"
    assert cmd[cmd.index("--py-files") + 1] == art["path"]
    assert any(c.startswith("spark.yarn.appMasterEnv.BUCKET_NAME=")
               for c in cmd)
    assert any(c.startswith("spark.executorEnv.BUCKET_NAME=")
               for c in cmd)
    assert any("spark.yarn.tags=" in c and "Project:DataPipeline" in c
               for c in cmd)
    assert cmd[-1] == spec2.entry


def test_schedule_normalization_and_fire_times(tmp_path):
    # the reference's exact expression (setup_schedule.py:13)
    assert deploy.normalize_schedule("cron(0 2 * * ? *)") == "0 2 * * *"
    assert deploy.normalize_schedule("*/15 8-17 * * 1-5") \
        == "*/15 8-17 * * 1-5"
    for bad in ("cron(61 2 * * ? *)", "cron(0 2 * *)", "0 2 * *",
                "cron(0 2 * * ? 2026)", "a b c d e"):
        with pytest.raises(ValueError):
            deploy.normalize_schedule(bad)
    # daily-at-02:00 arithmetic, the EventBridge rule's meaning
    t = deploy.next_fire_after(
        "0 2 * * *", dt.datetime(2024, 6, 1, 2, 0))
    assert t == dt.datetime(2024, 6, 2, 2, 0)   # strictly after
    t = deploy.next_fire_after(
        "0 2 * * *", dt.datetime(2024, 6, 1, 1, 59))
    assert t == dt.datetime(2024, 6, 1, 2, 0)
    # weekday + step fields
    t = deploy.next_fire_after(
        "*/15 8-17 * * 1-5", dt.datetime(2024, 6, 1, 12, 0))  # Saturday
    assert t == dt.datetime(2024, 6, 3, 8, 0)   # Monday 08:00
    # Sunday as 0 AND as 7
    for expr in ("30 9 * * 0", "30 9 * * 7"):
        t = deploy.next_fire_after(expr, dt.datetime(2024, 6, 3, 0, 0))
        assert t == dt.datetime(2024, 6, 9, 9, 30)

    art = deploy.build_package(PKG, str(tmp_path / "pkg.zip"))
    d = str(tmp_path / "deploys")
    deploy.deploy_job(d, deploy.JobSpec(), art)
    m = deploy.schedule_job(d, "data-pipeline-etl", "cron(0 2 * * ? *)")
    assert (m["action"], m["schedule"]) == ("schedule", "0 2 * * *")
    assert deploy.schedule_job(
        d, "data-pipeline-etl", "0 2 * * *")["action"] == "noop"
    # the schedule survives a later config update
    m2 = deploy.deploy_job(
        d, deploy.JobSpec(executor_memory="8g"), art)
    assert m2["schedule"] == "0 2 * * *"
    with pytest.raises(ValueError, match="not deployed"):
        deploy.schedule_job(d, "ghost", "0 2 * * *")


def test_invoke_job_smoke(spark, tmp_path):
    """The deployed-function smoke check: run the real pipeline entry
    against fixture payloads and assert the reference's response-body
    shape (success / total_records / sources_processed / errors)."""
    art = deploy.build_package(PKG, str(tmp_path / "pkg.zip"))
    d = str(tmp_path / "deploys")
    deploy.deploy_job(d, deploy.JobSpec(), art)
    http = fake_http({"fakestoreapi": PRODUCTS,
                      "jsonplaceholder": POSTS,
                      "randomuser": USERS_WRAPPED})
    body = deploy.invoke_job(spark, d, "data-pipeline-etl",
                             str(tmp_path / "lake"), as_of=AS_OF,
                             http_get=http)
    assert body["success"] is True
    assert body["total_records"] == 6
    assert len(body["sources_processed"]) == 3
    assert body["errors"] == []
    with pytest.raises(ValueError, match="not deployed"):
        deploy.invoke_job(spark, d, "ghost", str(tmp_path / "x"))


def test_cron_step_anchoring_and_step_validation():
    """Bare */N steps anchor at the field's LOWER BOUND, matching
    cron: */5 in day-of-month fires 1,6,11,... (1-based field), not
    5,10,15; minute/hour are 0-based so */15 keeps firing :00/:15/...
    Non-numeric or zero steps refuse at normalize time, not first
    fire."""
    # day-of-month is 1-based: next */5 dom fire after Jun 1 is Jun 6
    t = deploy.next_fire_after(
        "0 0 */5 * *", dt.datetime(2024, 6, 1, 0, 0))
    assert t == dt.datetime(2024, 6, 6, 0, 0)
    # and Jun 1 itself matches (1-1) % 5 == 0
    t = deploy.next_fire_after(
        "0 0 */5 * *", dt.datetime(2024, 5, 31, 23, 59))
    assert t == dt.datetime(2024, 6, 1, 0, 0)
    # month is 1-based: */2 months = Jan,Mar,May,... (odd months)
    t = deploy.next_fire_after(
        "0 0 1 */2 *", dt.datetime(2024, 1, 15, 0, 0))
    assert t == dt.datetime(2024, 3, 1, 0, 0)
    # minute field is 0-based: unchanged behavior
    t = deploy.next_fire_after(
        "*/15 * * * *", dt.datetime(2024, 6, 1, 10, 16))
    assert t == dt.datetime(2024, 6, 1, 10, 30)
    for bad in ("*/x * * * *", "*/ * * * *", "*/0 * * * *",
                "cron(*/1.5 2 * * ? *)"):
        with pytest.raises(ValueError, match="step"):
            deploy.normalize_schedule(bad)
