"""Session defaults that must not need a running SparkSession."""

from solr_spark.session import default_driver_mem


def test_default_driver_mem_sized_from_host(tmp_path):
    def host(total_kb: int) -> str:
        p = tmp_path / f"meminfo_{total_kb}"
        p.write_text(
            f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n"
        )
        return str(p)

    gib = 1024 * 1024  # kB
    assert default_driver_mem(None, host(16 * gib)) == "8192m"  # half
    assert default_driver_mem(None, host(512 * gib)) == "65536m"  # local cap
    assert default_driver_mem(2, host(512 * gib)) == "16384m"  # cluster cap
    assert default_driver_mem(None, host(gib)) == "1024m"  # Spark's floor
    missing = str(tmp_path / "absent")
    assert default_driver_mem(None, missing) == "65536m"
