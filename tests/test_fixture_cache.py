"""The content-addressed fixture cache (queries.FIXTURES / fixture /
materialize): every entry is keyed by the digest of the package source,
concurrent writers of one entry both succeed, and oracle_sql() writes
every fixture an oracle reads."""

import glob
import os
import re
import shutil
import subprocess
import sys
import uuid
import zipfile

import pytest

from extract_kit_spark import queries as q

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_oracle_sql_materializes_every_fixture_an_oracle_reads(monkeypatch):
    import __spark_entry__ as entry_mod
    made = []
    monkeypatch.setattr(entry_mod, "fixture",
                        lambda name: made.append(q.cache_path(name)))
    oracles = entry_mod.oracle_sql()
    read = {p for sql in oracles.values()
            for p in re.findall(r"read_parquet\('(/tmp/[^']*)'\)", sql)}
    assert read
    missing = sorted(p for p in read
                     if not any(p == m or p.startswith(m + "/")
                                for m in made))
    assert not missing, f"oracles read unmaterialized fixtures: {missing}"
    assert sorted(made) == sorted(q.cache_path(n) for n in q.FIXTURES)


def test_source_digest_keys_every_module_by_path_and_bytes(tmp_path):
    pkg = tmp_path / "extract_kit_spark"
    shutil.copytree(q._PKG_DIR, pkg,
                    ignore=shutil.ignore_patterns("__pycache__"))
    assert q.source_digest(str(pkg)) == q.SOURCE_DIGEST
    sources = sorted(pkg.rglob("*.py"))
    assert len(sources) > 10
    for src in sources:
        data = src.read_bytes()
        # flip the last byte (append one to an empty module)
        src.write_bytes(data[:-1] + bytes([data[-1] ^ 1]) if data
                        else b"\n")
        assert q.source_digest(str(pkg)) != q.SOURCE_DIGEST, src
        src.write_bytes(data)
    assert q.source_digest(str(pkg)) == q.SOURCE_DIGEST
    # same bytes under another module name
    (pkg / "ops" / "lm.py").rename(pkg / "ops" / "lm_renamed.py")
    assert q.source_digest(str(pkg)) != q.SOURCE_DIGEST


def test_fixture_paths_and_pyfiles_zip_share_the_source_digest():
    for name in q.FIXTURES:
        assert q.cache_path(name) == f"/tmp/ekspark_{name}_{q.SOURCE_DIGEST}"
    paths = [v for k, v in vars(q).items() if k.endswith("_PATH")]
    assert len(paths) == len(q.FIXTURES)
    assert set(paths) == {q.cache_path(n) for n in q.FIXTURES}

    class Context:
        added = []

        def parallelize(self, *_):
            raise RuntimeError("workers cannot import the package")

        def addPyFile(self, path):
            self.added.append(path)

    class Session:
        sparkContext = Context()

    q._ensure_importable(Session())
    zip_path = f"/tmp/ekspark_pkg_{q.SOURCE_DIGEST}.zip"
    assert Context.added == [zip_path]
    with zipfile.ZipFile(zip_path) as z:
        names = set(z.namelist())
    assert names == {
        os.path.join("extract_kit_spark", os.path.relpath(p, q._PKG_DIR))
        for p in q._package_sources(q._PKG_DIR)}


_RACE = """
import os, sys, time
sys.path.insert(0, {repo!r})
from extract_kit_spark.queries import materialize

def slow_write(tmp):
    os.makedirs(tmp)
    with open(os.path.join(tmp, "a"), "w") as fh:
        fh.write("a")
    # hold until both writers are inside write()
    open(os.path.join({gate!r}, "in-%d" % os.getpid()), "w").close()
    deadline = time.time() + 60
    while len(os.listdir({gate!r})) < 2 and time.time() < deadline:
        time.sleep(0.01)
    time.sleep(0.2)
    with open(os.path.join(tmp, "b"), "w") as fh:
        fh.write("b")

print(materialize({name!r}, slow_write))
"""


@pytest.fixture
def race_name():
    name = f"race_{uuid.uuid4().hex[:8]}"
    yield name
    path = q.cache_path(name)
    for p in [path] + glob.glob(path + ".tmp-*"):
        shutil.rmtree(p, ignore_errors=True)


def test_concurrent_writers_of_one_entry_both_succeed(tmp_path, race_name):
    gate = tmp_path / "gate"
    gate.mkdir()
    script = _RACE.format(repo=REPO, gate=str(gate), name=race_name)
    procs = [subprocess.Popen([sys.executable, "-c", script],
                              stdout=subprocess.PIPE,
                              stderr=subprocess.PIPE, text=True)
             for _ in range(2)]
    outs = [p.communicate(timeout=120) for p in procs]
    path = q.cache_path(race_name)
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, err
        assert out.strip() == path
    assert len(os.listdir(gate)) == 2  # both really wrote
    assert sorted(os.listdir(path)) == ["a", "b"]
    assert glob.glob(path + ".tmp-*") == []
