"""The session's worker daemon: a reused Python worker re-reads a zip
archive on `sys.path` only when the archive changed, and each task sets
TCP_QUICKACK on its socket before it reads its input."""

import os
import zipfile
import zipimport

from pytorch_ie_spark import session


def test_workers_skip_unchanged_zip_rereads(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        patched = getattr(zipimport.zipimporter.invalidate_caches, "skips_unchanged", False)
        for _ in batches:
            pass
        yield pd.DataFrame({"patched": [patched]})

    rows = spark.range(8).repartition(4).mapInPandas(report, "patched boolean").collect()
    assert [r["patched"] for r in rows] == [True] * 4


def test_workers_ack_task_input_at_once(spark):
    def report(batches):
        import pyspark.daemon

        import pandas as pd

        wrapped = getattr(pyspark.daemon.worker, "acks_at_once", False)
        for _ in batches:
            pass
        yield pd.DataFrame({"wrapped": [wrapped]})

    rows = spark.range(8).repartition(4).mapInPandas(report, "wrapped boolean").collect()
    assert [r["wrapped"] for r in rows] == [True] * 4


def test_ack_wrapper_sets_quickack_on_tcp_only(monkeypatch):
    import socket

    import pyspark.daemon

    seen = []

    def task(sock, authenticated):
        if sock.family == socket.AF_UNIX:
            seen.append("unix")
        else:
            seen.append(sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK))
        return 0

    monkeypatch.setattr(pyspark.daemon, "worker", task)
    session.ack_task_input_at_once()
    session.ack_task_input_at_once()  # installs once
    assert pyspark.daemon.worker.acks_at_once
    with socket.create_server(("127.0.0.1", 0)) as server:
        with socket.create_connection(server.getsockname()) as client:
            conn, _ = server.accept()
            with conn:
                # a worker that answered its last task delays its ACKs
                client.sendall(b"task")
                conn.recv(4)
                conn.sendall(b"done")
                client.recv(4)
                assert conn.getsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK) == 0
                assert pyspark.daemon.worker(conn, False) == 0
    left, right = socket.socketpair(socket.AF_UNIX)
    with left, right:
        assert pyspark.daemon.worker(left, True) == 0
    assert seen == [1, "unix"]


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(zipfile.ZipInfo(f"{name}.py", date_time=(2020, 1, 1, 0, 0, 0)), source)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"aaa": "X = 1\n"})
    importer, other = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
    session.skip_unchanged_zip_rereads()
    importer.invalidate_caches()
    assert importer.find_spec("aaa") is not None

    # new content, same size and mtime: not re-read, so the importer keeps
    # the directory it read before
    stat = os.stat(archive)
    _write_zip(archive, {"bbb": "X = 2\n"})
    os.utime(archive, ns=(stat.st_atime_ns, stat.st_mtime_ns))
    assert os.path.getsize(archive) == stat.st_size
    importer.invalidate_caches()
    assert importer.find_spec("bbb") is None and importer.find_spec("aaa") is not None

    # new content and a new size: re-read, the new module imports
    _write_zip(archive, {"aaa": "X = 1\n", "newmod": "X = 3\n"})
    importer.invalidate_caches()
    assert importer.find_spec("newmod") is not None
    # an importer made before the change sees the directory the first
    # importer re-read
    other.invalidate_caches()
    assert other.find_spec("newmod") is not None


def test_default_driver_memory_is_a_bounded_share_of_ram():
    gb = 2**30
    assert session.default_driver_memory(15 * gb) == "7g"
    assert session.default_driver_memory(512 * gb) == "48g"
    assert session.default_driver_memory(gb) == "1g"
    assert session.default_driver_memory() in {f"{n}g" for n in range(1, 49)}
