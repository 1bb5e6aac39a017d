"""Session construction: the driver heap default follows the machine."""

from __future__ import annotations

from metadata_crawler_spark.session import _default_driver_memory


def test_default_driver_memory_is_half_of_physical():
    gib = 2**30
    assert _default_driver_memory(16 * gib) == "8192m"
    # a 15.6 GiB VM: half, rounded down to whole MiB
    assert _default_driver_memory(int(15.6 * gib)) == f"{int(15.6 * gib) // 2 // 2**20}m"
    assert _default_driver_memory(512 * gib) == "262144m"
    # small machines keep Spark's own 1g default as the floor
    assert _default_driver_memory(1 * gib) == "1024m"
    assert _default_driver_memory(0) == "1024m"


def test_ship_package_zip_is_private_to_the_session(monkeypatch):
    """Each session ships the package zip from a directory of its own:
    concurrent drivers sharing one machine-wide path would overwrite each
    other's zip while Spark serves it to their tasks."""
    import os
    import tempfile
    from types import SimpleNamespace

    from metadata_crawler_spark import session

    shipped: list[str] = []
    monkeypatch.setattr(session, "build_pyfiles_zip", lambda zpath: zpath)

    def fake_session():
        return SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append))

    for spark in (fake_session(), fake_session()):
        assert session.ship_package(spark) is spark
    shared = os.path.join(tempfile.gettempdir(), "metadata_crawler_spark_pyfiles.zip")
    assert len(shipped) == 2 and shipped[0] != shipped[1]
    assert shared not in shipped
    for p in shipped:
        os.rmdir(os.path.dirname(p))
