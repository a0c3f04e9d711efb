"""plans/session.py — the master a session is built with comes from the host."""

from pdf_drawing_ocr_recognition_spark.plans import session


def test_default_master_follows_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session._resolve_master(None) == "local[3]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert session._resolve_master(None) == "local[6]"
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[2]")
    assert session._resolve_master(None) == "local[2]"
    assert session._resolve_master("local[5]") == "local[5]"
