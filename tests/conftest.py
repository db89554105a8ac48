from __future__ import annotations

import os

import pytest

from data_migration_validator_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    sp = get_spark(app_name="dmv-tests", cores=4, shuffle_partitions=8)
    yield sp


@pytest.fixture()
def tmp_root(tmp_path):
    return str(tmp_path)


class Crash(BaseException):
    """A simulated process death inside the lake commit protocol.  A
    BaseException, so no ``except Exception`` in the engine can swallow it."""


class KillSeam:
    """Stand-in for ``lake.table._fs``, the commit protocol's filesystem
    seam.  Counts the calls ``match(op, args)`` selects (all by default);
    at the ``kill_at``-th one it raises :class:`Crash` — after performing
    the call when ``after`` is set, instead of it otherwise — and every
    later call raises too: a dead process mutates nothing more."""

    def __init__(self, kill_at=None, after=False, match=None):
        self.kill_at, self.after, self.match = kill_at, after, match
        self.calls = 0
        self.dead = False

    def __call__(self, op, *args):
        if self.dead:
            raise Crash("process already dead")
        if self.match is None or self.match(op, args):
            self.calls += 1
            if self.calls == self.kill_at:
                self.dead = True
                if self.after:
                    op(*args)
                raise Crash(f"killed at seam call {self.calls} ({op.__name__})")
        return op(*args)


def link_into(root):
    """Seam matcher: manifest links that commit a snapshot of ``root``."""
    prefix = os.path.join(root, "_manifest") + os.sep
    return lambda op, args: op is os.link and args[1].startswith(prefix)


@pytest.fixture()
def kill_seam(monkeypatch):
    """``arm(**KillSeam kwargs)`` installs a fresh :class:`KillSeam` as the
    lake commit seam and returns it; ``disarm()`` restores the real one."""
    from data_migration_validator_spark.lake import table as lake_table

    real = lake_table._fs

    class _Ctl:
        def arm(self, **kw):
            seam = KillSeam(**kw)
            monkeypatch.setattr(lake_table, "_fs", seam)
            return seam

        def disarm(self):
            monkeypatch.setattr(lake_table, "_fs", real)

    return _Ctl()
