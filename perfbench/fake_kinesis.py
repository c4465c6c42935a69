"""An in-memory stand-in for the boto3 Kinesis client.

``kinesis_writer`` calls ``client_factory()`` inside executor tasks, so the
records are handed back to the driver through a Spark accumulator. This
module is imported by those tasks, so it stays small.
"""

from __future__ import annotations

from pyspark.accumulators import AccumulatorParam


class FakeKinesisFactory:
    """``client_factory`` for ``kinesis_writer``: each client adds
    ``(line, partition_key)`` pairs and one put call to ``acc``."""

    def __init__(self, acc):
        self.acc = acc

    def __call__(self):
        return _Client(self.acc)


class _Client:
    def __init__(self, acc):
        self.acc = acc

    def put_records(self, StreamName, Records):  # noqa: N803 - boto3 names
        self.acc.add({
            "lines": [(r["Data"].decode(), r["PartitionKey"]) for r in Records],
            "calls": 1,
        })
        return {"FailedRecordCount": 0}


class PutLog(AccumulatorParam):
    """Accumulator type merging the dicts ``_Client`` adds."""

    def zero(self, value):
        return {"lines": [], "calls": 0}

    def addInPlace(self, a, b):
        a["lines"].extend(b["lines"])
        a["calls"] += b["calls"]
        return a
