"""bench.py sizes the driver heap from the host's MemAvailable (no JVM is
started here)."""

import bench


def _meminfo(tmp_path, avail_kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {avail_kb + 1024} kB\n"
                 f"MemFree:        {avail_kb // 2} kB\n"
                 f"MemAvailable:   {avail_kb} kB\n")
    return str(p)


def test_heap_sized_from_mem_available(tmp_path):
    gib = 2**20  # kB per GiB
    for avail_gb, heap_gb in ((14.5, 8), (64, 24), (1.2, 1), (0.5, 1)):
        conf = bench._driver_heap_conf(
            _meminfo(tmp_path, int(avail_gb * gib)))
        assert conf["spark.driver.memory"] == f"{heap_gb}g"
        opts = conf["spark.driver.extraJavaOptions"].split()
        assert f"-Xms{heap_gb}g" in opts
        assert "-XX:+AlwaysPreTouch" not in opts
