"""Mapper/reducer classes of the benchmark's MapReduce ops.

They live in an importable module (not ``__main__``) so executor Python
workers unpickle them by reference; the harness puts the checkout root
on the workers' ``PYTHONPATH``. Semantics follow the reference's
``driver_test.go`` word count and prefix filter.
"""

from __future__ import annotations

from corral_spark.mapreduce import Mapper, Reducer


class WordCountMapper(Mapper):
    def map(self, key, value, emitter):
        for word in value.split():
            emitter.emit(word, "1")


class WordCountReducer(Reducer):
    def reduce(self, key, values, emitter):
        emitter.emit(key, str(sum(1 for _ in values.iter())))


class PrefixFilter(Mapper, Reducer):
    def __init__(self, prefix: str):
        self.prefix = prefix

    def map(self, key, value, emitter):
        if key.startswith(self.prefix):
            emitter.emit(key, value)

    def reduce(self, key, values, emitter):
        for v in values.iter():
            emitter.emit(key, v)
