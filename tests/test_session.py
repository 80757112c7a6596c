"""get_spark's configuration defaults, checked against a recording fake
builder so the shared test session is not reconfigured."""

from types import SimpleNamespace

from waka_spark import session


class _RecordingBuilder:
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
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda _level: None))


def test_shuffle_partitions_precedence(monkeypatch):
    """An explicit shuffle_partitions wins even when SPARK_GRAFT_CPUS is
    not a plain count; without one, the count (or 32) is the default."""
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=builder))

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "auto")
    session.get_spark(master="local[2]", shuffle_partitions=6)
    assert builder.conf["spark.sql.shuffle.partitions"] == "6"
    session.get_spark(master="local[2]")
    assert builder.conf["spark.sql.shuffle.partitions"] == "32"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    assert builder.conf["master"] == "local[3]"
    assert builder.conf["spark.sql.shuffle.partitions"] == "3"
