"""The session-substrate registry (``session.substrate``), without Spark:
a stub with ``sparkContext.applicationId`` is all the helper reads."""

from __future__ import annotations

from types import SimpleNamespace

from kafka2clickhouse_py_streamer_spark import session


def _app(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_substrate_registry_rules(monkeypatch):
    # an empty registry of its own: the suite's live session keeps its
    # substrates
    monkeypatch.setattr(session, "_app_id", None)
    monkeypatch.setattr(session, "_entries", {})
    monkeypatch.setattr(session, "_build_s", {})
    a, b = _app("app-a"), _app("app-b")
    builds = []

    def build(tag):
        def run():
            builds.append(tag)
            return tag

        return run

    # one build per (app, name, key); a hit never rebuilds
    assert session.substrate(a, "n", 1, build("a1")) == "a1"
    assert session.substrate(a, "n", 1, build("again")) == "a1"
    assert session.substrate(a, "n", 2, build("a2")) == "a2"
    assert session.substrate(a, "m", 1, build("m1")) == "m1"
    assert builds == ["a1", "a2", "m1"]
    assert set(session.build_seconds()) == {"n", "m"}

    # a new applicationId rebuilds, and the old app's entries are gone
    assert session.substrate(b, "n", 1, build("b1")) == "b1"
    assert session.build_seconds().keys() == {"n"}
    assert session.substrate(a, "n", 1, build("a1-new")) == "a1-new"
    assert builds == ["a1", "a2", "m1", "b1", "a1-new"]

    # the per-name cap: past SUBSTRATE_CAP entries a name clears on the
    # next miss; other names keep theirs
    session.release(a)
    session.substrate(a, "m", 0, build("kept"))
    for k in range(session.SUBSTRATE_CAP + 1):
        session.substrate(a, "n", k, build(k))
    del builds[:]
    session.substrate(a, "n", 0, build("hit"))
    assert builds == []
    session.substrate(a, "n", "overflow", build("overflow"))
    session.substrate(a, "n", 0, build("rebuilt"))
    assert builds == ["overflow", "rebuilt"]
    assert session.substrate(a, "m", 0, build("lost")) == "kept"

    # release() drops everything of that app — another app's release
    # is a no-op
    session.release(b)
    assert session.substrate(a, "m", 0, build("lost")) == "kept"
    session.release(a)
    assert session.build_seconds() == {}
    assert session.substrate(a, "m", 0, build("fresh")) == "fresh"
