"""Session defaults (session.py): the core count and driver heap an
unconfigured ``get_spark`` asks for follow the host — checked on the
pure helpers, so no JVM starts with them."""

from tidierdb_jl_spark.session import _default_cpus, _default_driver_memory


def test_default_cpus_is_the_affinity_mask():
    assert _default_cpus({0, 1, 2, 3}) == 4
    assert _default_cpus({7}) == 1
    assert _default_cpus(set()) == 1
    assert _default_cpus() >= 1


def test_default_driver_memory_is_half_of_memtotal_capped():
    assert _default_driver_memory(
        "MemTotal:       16479424 kB\nMemFree: 1 kB\n") == "8046m"
    assert _default_driver_memory("MemTotal: 4194304 kB\n") == "2048m"
    # half of 64 GiB is above the cap
    assert _default_driver_memory("MemTotal: 67108864 kB\n") == "16g"
    assert _default_driver_memory("") == "16g"
    assert _default_driver_memory().endswith(("m", "g"))
