"""Session defaults that depend on the host."""

from __future__ import annotations

import pytest

from agent_data_pipeline_spark.session import default_driver_memory


def _meminfo(tmp_path, total_kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


@pytest.mark.parametrize(
    "total_gib,want",
    [
        (15.5, f"{int(15.5 * 1024 * 1024 * 0.6) // 1024}m"),  # 60 % of a 15.5 GiB host
        (64, "24576m"),  # capped at 24g
        (1, "1024m"),  # floored at 1g
    ],
)
def test_driver_memory_follows_host_memory(tmp_path, total_gib, want):
    assert default_driver_memory(_meminfo(tmp_path, int(total_gib * 1024 * 1024))) == want


def test_driver_memory_without_meminfo_is_the_cap(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "24576m"
    (tmp_path / "garbled").write_text("nothing useful\n")
    assert default_driver_memory(str(tmp_path / "garbled")) == "24576m"
