"""get_spark reads its environment on every call, not at import."""

from types import SimpleNamespace

from atlas_upscaling_dask_spark import session


class _Builder:
    """Stands in for SparkSession.builder and its session; records the
    master and confs a get_spark call asks for."""

    def __init__(self):
        self.conf = {}
        self.sparkContext = self

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self

    def setLogLevel(self, level):
        pass


def test_cpus_env_read_per_call(monkeypatch):
    seen = []
    for cpus in ("3", "5"):
        builder = _Builder()
        monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
        session.get_spark("t")
        seen.append((builder.conf["master"], builder.conf["spark.sql.shuffle.partitions"]))
    assert seen == [("local[3]", "3"), ("local[5]", "5")]
    # an explicit shuffle_partitions still wins over the env default
    session.get_spark("t", shuffle_partitions=2)
    assert builder.conf["spark.sql.shuffle.partitions"] == "2"
