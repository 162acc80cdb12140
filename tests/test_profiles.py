"""profiles.yml / targets (ref: config/profile.py, ProfileRenderer;
tests/functional/profiles/)."""

import os

import pytest
import yaml

from dbt_core_spark import Engine, ProjectDef
from dbt_core_spark.exceptions import ParsingError
from dbt_core_spark.profile import load_profiles, resolve_target


def _write_project(root, profiles):
    os.makedirs(os.path.join(root, "models"), exist_ok=True)
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        yaml.safe_dump({"name": "prof", "profile": "myproj"}, f)
    with open(os.path.join(root, "models", "m.sql"), "w") as f:
        f.write("select '{{ target.name }}' as tname, "
                "'{{ target.schema }}' as tschema")
    with open(os.path.join(root, "profiles.yml"), "w") as f:
        yaml.safe_dump(profiles, f)


PROFILES = {
    "myproj": {
        "target": "dev",
        "outputs": {
            "dev": {"type": "spark", "schema": "profdev", "threads": 2},
            "prod": {"type": "spark", "schema": "profprod", "threads": 8,
                     "custom_key": "{{ env_var('PROF_X', 'fallback') }}"},
        },
    }
}


def test_resolve_target_semantics():
    t = resolve_target(PROFILES, "myproj")
    assert (t.name, t.schema, t.threads) == ("dev", "profdev", 2)
    t2 = resolve_target(PROFILES, "myproj", "prod")
    assert (t2.name, t2.schema, t2.threads) == ("prod", "profprod", 8)
    assert t2.extra["custom_key"] == "fallback"  # env_var default rendered
    os.environ["PROF_X"] = "rendered"
    try:
        assert resolve_target(PROFILES, "myproj", "prod").extra["custom_key"] == "rendered"
    finally:
        del os.environ["PROF_X"]
    with pytest.raises(ParsingError, match="not found"):
        resolve_target(PROFILES, "nope")
    with pytest.raises(ParsingError, match="not in profile"):
        resolve_target(PROFILES, "myproj", "staging")


def test_engine_uses_profile_target(tmp_path, spark):
    root = str(tmp_path / "p")
    _write_project(root, PROFILES)
    eng = Engine(spark, ProjectDef.from_dir(root))
    assert eng.schema == "profdev" and eng.threads == 2
    assert eng.run().ok()
    row = spark.table("profdev.m").collect()[0]
    assert row["tname"] == "dev" and row["tschema"] == "profdev"
    # --target prod flips schema/threads and the jinja target var
    eng2 = Engine(spark, ProjectDef.from_dir(root), target="prod")
    assert eng2.schema == "profprod" and eng2.threads == 8
    assert eng2.run().ok()
    assert spark.table("profprod.m").collect()[0]["tname"] == "prod"
    # explicit schema arg still wins over the profile
    eng3 = Engine(spark, ProjectDef.from_dir(root), schema="explicit_s")
    assert eng3.schema == "explicit_s"
    for s in ("profdev", "profprod", "explicit_s"):
        spark.sql(f"DROP DATABASE IF EXISTS {s} CASCADE")
        spark.sql(f"DROP DATABASE IF EXISTS {s}__sources CASCADE")
    assert load_profiles(root)["myproj"]["target"] == "dev"


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the master and
    conf get_spark asks for and starts no JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        from types import SimpleNamespace

        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda _level: None))


@pytest.mark.parametrize("env, expect", [(None, "5"), ("3", "3")])
def test_get_spark_sizes_local_mode_to_host_cpus(monkeypatch, env, expect):
    """Without SPARK_GRAFT_CPUS the local master and the shuffle
    partition count follow the host CPU count; the variable overrides
    both."""
    from types import SimpleNamespace

    from dbt_core_spark import session

    rec = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=rec))
    monkeypatch.setattr(session.os, "cpu_count", lambda: 5)
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    session.get_spark()
    assert rec.conf["master"] == f"local[{expect}]"
    assert rec.conf["spark.sql.shuffle.partitions"] == expect
