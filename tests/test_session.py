"""Session defaults sized to the machine (Spark-free)."""
from ocr_spark import session


def test_driver_memory_is_a_third_of_visible_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    for total_gb, want in ((15, "5120m"), (6, "2048m"), (48, "8192m"), (2, "1024m")):
        monkeypatch.setattr(session, "visible_memory_bytes", lambda: total_gb << 30)
        assert session.default_driver_memory() == want
    monkeypatch.setattr(session, "visible_memory_bytes", lambda: None)
    assert session.default_driver_memory() == "8g"


def test_explicit_driver_memory_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    monkeypatch.setattr(session, "visible_memory_bytes", lambda: 64 << 30)
    assert session.default_driver_memory() == "3g"


def test_visible_memory_is_read():
    total = session.visible_memory_bytes()
    assert total is None or total > 0
