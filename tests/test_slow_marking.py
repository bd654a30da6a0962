"""The slow-test list in tests/conftest.py matches node ids by exact
string, so a renamed or deleted test would silently drop out of the
slow set; collection fails instead and names the entry."""

from __future__ import annotations

import os

from tests.conftest import unmatched_slow_ids


def test_unmatched_slow_ids_names_renamed_and_deleted_tests(tmp_path):
    root = str(tmp_path)
    os.makedirs(os.path.join(root, "tests"))
    for name in ("test_a.py", "test_broken.py"):
        open(os.path.join(root, "tests", name), "w").close()
    entries = {
        "tests/test_a.py::test_kept",
        "tests/test_a.py::test_renamed_away",
        "tests/test_a.py::test_param[gone]",
        "tests/test_deleted.py::test_x",
        # its file collected nothing (a collection error): not judged here
        "tests/test_broken.py::test_y",
    }
    collected = {"tests/test_a.py::test_kept", "tests/test_a.py::test_param[kept]"}
    tests_dir = os.path.join(root, "tests")
    assert unmatched_slow_ids(entries, collected, [tests_dir], root) == [
        "tests/test_a.py::test_param[gone]",
        "tests/test_a.py::test_renamed_away",
        "tests/test_deleted.py::test_x",
    ]
    # only what the command line collected in full is judged
    one_file = [os.path.join(tests_dir, "test_a.py")]
    assert unmatched_slow_ids(entries, collected, one_file, root) == [
        "tests/test_a.py::test_param[gone]",
        "tests/test_a.py::test_renamed_away",
    ]
    assert unmatched_slow_ids(entries, collected, [], root) == []
