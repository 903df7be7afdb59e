"""FileOps unit coverage mirroring the reference's filesystem-utils tests
(TestFSUtils.scala:20-126 mergeMoveFiles cases) plus the trash and
exclusive-write primitives the commit/storage layers are built on."""

import ast
import os

import pytest

from waimak_spark.filesystem import FileOps


@pytest.fixture
def ops(spark):
    return FileOps(spark)


def _mkfiles(d, names):
    os.makedirs(d, exist_ok=True)
    for n in names:
        with open(os.path.join(d, n), "w") as f:
            f.write(n)


class TestMergeMoveFiles:
    def test_creates_destination_and_moves(self, ops, tmp_path):
        src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
        _mkfiles(src, ["part-0", "part-1"])
        ops.merge_move_files(src, dest)
        assert sorted(os.listdir(dest)) == ["part-0", "part-1"]
        assert os.listdir(src) == []

    def test_moves_into_existing_destination(self, ops, tmp_path):
        src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
        _mkfiles(src, ["part-0"])
        _mkfiles(dest, ["part-9"])
        ops.merge_move_files(src, dest)
        assert sorted(os.listdir(dest)) == ["part-0", "part-9"]

    def test_empty_source_creates_empty_destination(self, ops, tmp_path):
        src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
        os.makedirs(src)
        ops.merge_move_files(src, dest)
        assert os.path.isdir(dest) and os.listdir(dest) == []

    def test_filter_respected(self, ops, tmp_path):
        src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
        _mkfiles(src, ["part-0", "_SUCCESS", "notes.txt"])
        ops.merge_move_files(src, dest)
        assert os.listdir(dest) == ["part-0"]
        assert sorted(os.listdir(src)) == ["_SUCCESS", "notes.txt"]

    def test_directories_not_moved(self, ops, tmp_path):
        src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
        _mkfiles(src, ["part-0"])
        os.makedirs(os.path.join(src, "part-dir"))
        ops.merge_move_files(src, dest)
        assert os.listdir(dest) == ["part-0"]
        assert os.listdir(src) == ["part-dir"]

    def test_existing_destination_file_raises(self, ops, tmp_path):
        src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
        _mkfiles(src, ["part-0"])
        _mkfiles(dest, ["part-0"])
        with pytest.raises(IOError, match="already exists"):
            ops.merge_move_files(src, dest)
        # nothing was clobbered
        assert open(os.path.join(dest, "part-0")).read() == "part-0"

    def test_missing_source_raises(self, ops, tmp_path):
        with pytest.raises(IOError, match="does not exist"):
            ops.merge_move_files(str(tmp_path / "nope"),
                                 str(tmp_path / "dest"))

    def test_file_source_raises(self, ops, tmp_path):
        f = tmp_path / "afile"
        f.write_text("x")
        with pytest.raises(IOError, match="not a folder"):
            ops.merge_move_files(str(f), str(tmp_path / "dest"))


class TestTrashAndExclusiveWrite:
    def test_write_string_exclusive_single_winner(self, ops, tmp_path):
        p = str(tmp_path / "guard" / "lock.json")
        assert ops.write_string_exclusive(p, "first") is True
        assert ops.write_string_exclusive(p, "second") is False
        assert ops.read_string(p) == "first"


def _jvm_walks(source: str) -> list[str]:
    """``jvm.<package>`` attribute steps in ``source`` (``jvm`` or any
    ``X._jvm``/``X.jvm``) outside ``filesystem._jvm_refs``, as
    ``line: text``: each step is a py4j reflection round trip, and one
    that names a package scans the classpath before it answers."""
    tree = ast.parse(source)
    skip = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "_jvm_refs":
            skip.update(range(node.lineno, node.end_lineno + 1))
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute) or node.lineno in skip:
            continue
        base = node.value
        base_name = (base.id if isinstance(base, ast.Name)
                     else base.attr if isinstance(base, ast.Attribute)
                     else None)
        if base_name in ("jvm", "_jvm") and node.attr[:1].islower():
            found.append(f"{node.lineno}: {ast.unparse(node)}")
    return found


def test_jvm_handles_come_from_the_one_table():
    """The engine reaches JVM classes only through the per-gateway handle
    table ``filesystem._jvm_refs``: no ``_jvm.<package>.`` walk elsewhere
    in ``waimak_spark/``."""
    import waimak_spark

    root = os.path.dirname(waimak_spark.__file__)
    walks = []
    for folder, _, files in os.walk(root):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(folder, name)
                with open(path) as fh:
                    walks += [f"{os.path.relpath(path, root)}:{w}"
                              for w in _jvm_walks(fh.read())]
    assert not walks, f"JVM package walks outside _jvm_refs: {walks}"


def test_jvm_walk_guard_sees_a_walk():
    src = ("def _jvm_refs(jvm):\n    return jvm.org.apache.hadoop.fs.Path\n"
           "def f(spark):\n    return spark._jvm.java.lang.String\n"
           "def g(self):\n    return self._jvm.PythonSQLUtils\n")
    assert _jvm_walks(src) == ["4: spark._jvm.java"]
