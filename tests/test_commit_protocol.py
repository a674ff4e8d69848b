"""The bucket sink's rewrite protocol (lineage._swap / lineage._restore)
against a FileSystem whose rename returns False, with no Spark: Hadoop's
local FileSystem raises on a failed rename instead, so only a fake
reaches the False branches."""

import pytest

from ocr_service_spark.lineage import _restore, _swap


class FakeFS:
    """Dirs as {name: content}; a rename listed in `fail` returns False,
    as does any rename onto an existing dir or from a missing one."""

    def __init__(self, dirs, fail=()):
        self.dirs, self.fail = dict(dirs), set(fail)

    def exists(self, p):
        return p in self.dirs

    def rename(self, src, dst):
        if (src, dst) in self.fail or src not in self.dirs or dst in self.dirs:
            return False
        self.dirs[dst] = self.dirs.pop(src)
        return True

    def delete(self, p, recursive):
        return self.dirs.pop(p, None) is not None


PARK, INSTALL, RESTORE = ("live", "parked"), ("new", "live"), ("parked", "live")


def _swap_on(fs):
    _swap(fs, str, "live", "new", "parked")


def test_swap_installs_new_and_drops_parked():
    fs = FakeFS({"live": "old", "new": "compacted"})
    _swap_on(fs)
    assert fs.dirs == {"live": "compacted"}


def test_failed_park_raises_and_leaves_live_untouched():
    fs = FakeFS({"live": "old", "new": "compacted"}, fail=[PARK])
    with pytest.raises(RuntimeError, match="park"):
        _swap_on(fs)
    assert fs.dirs == {"live": "old", "new": "compacted"}


def test_failed_install_restores_the_old_copy_before_raising():
    fs = FakeFS({"live": "old", "new": "compacted"}, fail=[INSTALL])
    with pytest.raises(RuntimeError, match="install"):
        _swap_on(fs)
    assert fs.dirs == {"live": "old", "new": "compacted"}


def test_failed_install_and_failed_restore_raise_and_keep_the_parked_copy():
    fs = FakeFS({"live": "old", "new": "compacted"}, fail=[INSTALL, RESTORE])
    with pytest.raises(RuntimeError, match="restore"):
        _swap_on(fs)
    assert fs.dirs == {"parked": "old", "new": "compacted"}


@pytest.mark.parametrize("dirs, after", [
    ({"parked": "old"}, {"live": "old"}),                      # crash between the renames
    ({"live": "new", "parked": "old"}, {"live": "new", "parked": "old"}),  # stale park
    ({"live": "new"}, {"live": "new"}),                        # nothing parked
    ({}, {}),
])
def test_restore_moves_back_only_an_orphaned_parked_copy(dirs, after):
    fs = FakeFS(dirs)
    _restore(fs, str, "live", "parked")
    assert fs.dirs == after


def test_failed_restore_raises():
    fs = FakeFS({"parked": "old"}, fail=[RESTORE])
    with pytest.raises(RuntimeError, match="restore"):
        _restore(fs, str, "live", "parked")
    assert fs.dirs == {"parked": "old"}
