"""Checks shared by the streaming twin tests."""


def released_each_epoch(spark, process):
    """Wrap a foreachBatch callable so that every epoch asserts it left no
    persisted RDD behind: the persisted RDD ids after the epoch are a
    subset of those before it (a driver GC may only shrink the set)."""
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    def run(batch_df, epoch_id):
        before = persisted()
        process(batch_df, epoch_id)
        assert persisted() <= before, f"epoch {epoch_id} left a persisted RDD"

    return run
