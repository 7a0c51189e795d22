"""Executor code shipping (`session.package_zip`)."""

import os
import shutil
import tempfile
import zipfile

import jivesearch_spark
from jivesearch_spark import session

PKG = os.path.dirname(os.path.abspath(jivesearch_spark.__file__))


def _tree(root, marker):
    """A copy of the package's .py sources under ``root`` whose
    ``__init__.py`` ends with ``marker``."""
    dst = os.path.join(root, "jivesearch_spark")
    shutil.copytree(PKG, dst, ignore=shutil.ignore_patterns("__pycache__"))
    with open(os.path.join(dst, "__init__.py"), "a") as f:
        f.write(f"\nMARKER = {marker!r}\n")
    return dst


def _shipped_init(zpath):
    with zipfile.ZipFile(zpath) as zf:
        return zf.read("jivesearch_spark/__init__.py").decode()


def test_checkouts_sharing_a_temp_dir_ship_their_own_tree(tmp_path,
                                                          monkeypatch):
    """Two package trees with different sources, zipped through one
    temp dir in either order, each ship their own source: the newer
    zip of one tree must never stand in for the other, even when the
    other's files are older (an archive of a parent commit keeps its
    commit times). An unchanged tree reuses its zip; an edited one
    rebuilds it in place."""
    a = _tree(str(tmp_path / "a"), "tree a")
    b = _tree(str(tmp_path / "b"), "tree b")
    old = 1_000_000_000
    for root, _dirs, names in os.walk(b):
        for name in names:
            os.utime(os.path.join(root, name), (old, old))
    shared = tmp_path / "tmp"
    shared.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(shared))

    def ship(tree):
        monkeypatch.setattr(jivesearch_spark, "__file__",
                            os.path.join(tree, "__init__.py"))
        return session.package_zip()

    za = ship(a)
    zb = ship(b)
    assert za != zb
    assert "tree a" in _shipped_init(za) and "tree b" not in _shipped_init(za)
    assert "tree b" in _shipped_init(zb) and "tree a" not in _shipped_init(zb)
    assert ship(a) == za and "tree a" in _shipped_init(ship(a))
    built = os.path.getmtime(za)
    assert ship(a) == za and os.path.getmtime(za) == built
    # an edit ships the edited source from the same path: a tree
    # leaves one zip in the temp dir however often it changes
    with open(os.path.join(a, "__init__.py"), "a") as f:
        f.write("EDITED = True\n")
    assert ship(a) == za and "EDITED = True" in _shipped_init(za)
    assert "tree b" in _shipped_init(ship(b))
    assert sorted(os.listdir(shared)) == sorted(
        os.path.basename(z) for z in (za, zb))
