"""plans/session.py — the master and driver memory a session is built with
come from the host."""

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


def test_default_driver_memory_is_half_of_host_memory(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    gib = 2**30

    def host(total):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": total // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        return session._driver_memory()

    assert host(15 * gib) == "7g"
    assert host(64 * gib) == "8g"  # capped
    assert host(1 * gib) == "1g"  # floored
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert host(64 * gib) == "3g"  # the env var wins
