"""Session defaults that depend on the host."""

from __future__ import annotations

import pytest

from yaetl_spark.session import default_driver_memory


@pytest.mark.parametrize("total_kb,want", [
    (15 * 1024 * 1024, "7g"),      # half of a 15 GiB host
    (1024 * 1024, "1g"),           # never below 1g
    (256 * 1024 * 1024, "16g"),    # capped at 16g
])
def test_driver_memory_is_sized_from_memtotal(tmp_path, total_kb, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    assert default_driver_memory(str(meminfo)) == want


def test_driver_memory_without_meminfo_uses_the_cap(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
