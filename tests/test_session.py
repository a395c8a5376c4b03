"""Session sizing: the driver heap defaults to half the host's memory."""

from __future__ import annotations

from go_htmldate_spark.session import default_driver_memory


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_half_of_memtotal(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16 << 20)) == "8192m"
    assert default_driver_memory(_meminfo(tmp_path, 15_728_640 + 512)) == "7680m"


def test_driver_memory_caps_at_24g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 256 << 20)) == "24576m"


def test_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "24g"
