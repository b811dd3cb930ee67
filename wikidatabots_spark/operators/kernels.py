"""Arrow text kernels: the package's one ``mapInArrow`` over a text column.

A kernel is a per-document Python function over C-backed ``hashlib``/str
ops, run on whole Arrow batches by :func:`map_text`, with two helpers:

- :func:`split_words`, the tokenizer. It equals Spark's
  ``filter(split(lower(text), '\\s+'), w -> w != '')``. The split class
  is Java regex ``\\s``, ``[ \\t\\n\\x0B\\f\\r]``: ASCII only, unlike
  Python's Unicode ``\\s``, which also splits on U+00A0, U+0085 and
  U+2028. ``str.lower`` and the JVM's ``toLowerCase`` agree on ASCII and
  on the non-ASCII rows of the parity tests in ``tests/test_operators.py``:
  accents, ß and ẞ, dotted and dotless I, word-final sigma, fullwidth
  forms and titlecase digraphs. md5 over UTF-8 bytes is
  engine-independent, so a kernel's hashes equal the expression form's.
- :class:`Memo`, a per-task capped memo.

A kernel has to beat the expression form it replaces on total engine
CPU, JVM plus Python workers: each Arrow task costs its Python worker
~0.3 s of CPU on a 4-core host even for an identity function. The
MinHash signatures (``dedup.minhash_signature_cols``) are the one
kernel that does; the docstrings of ``gate_feature_counts``,
``token_bucket_counts``, ``bigram_occurrences`` and
``winnow_fingerprints`` record the A/Bs of the four that did not.

Python workers import pyspark but not this package, so the module's
code travels to them by value (``register_pickle_by_value``).
"""

from __future__ import annotations

import re
import sys
from collections.abc import Callable, Collection, Iterator
from itertools import repeat

from pyspark import cloudpickle
from pyspark.sql import DataFrame

cloudpickle.register_pickle_by_value(sys.modules[__name__])

_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def split_words(text: str) -> list[str]:
    """Lowercased tokens of ``text``, empties dropped (see the module
    docstring for the equivalence with Spark)."""
    return [w for w in _JAVA_WS.split(text.lower()) if w]


class Memo(dict):
    """``fn(key)`` memoized in a dict of at most ``cap`` entries. A hit is
    a plain dict lookup; a miss calls ``fn`` through ``__missing__`` and
    keeps the value while there is room. Corpora repeat tokens (Zipf),
    so most lookups hit; the cap bounds a long-lived task's memory."""

    def __init__(self, fn: Callable, cap: int) -> None:
        super().__init__()
        self.fn = fn
        self.cap = cap

    def __missing__(self, key):
        value = self.fn(key)
        if len(self) < self.cap:
            self[key] = value
        return value


def map_text(
    src: DataFrame,
    out: dict[str, str],
    factory: Callable[[], Callable[[str], Collection[tuple]]],
) -> DataFrame:
    """Run a per-document kernel over ``src`` = (id, *pass-through, text).

    ``factory`` is called once per task and returns the per-document
    function, so a memo it builds is per task. That function takes a
    text and returns the document's output rows: tuples of the ``out``
    columns (name → ``long`` or ``string``), possibly none. Each output
    row carries the id and pass-through values of its document, with
    their Arrow types. A row with a null id or a null text has no
    output, and the id is declared ``NOT NULL``. ``src`` is used as it
    is: partitioning is the caller's choice."""
    carried = src.dtypes[:-1]
    n = len(carried)
    fields = [f"{c} {t}" for c, t in [*carried, *out.items()]]
    fields[0] += " NOT NULL"
    names = [c for c, _ in carried] + list(out)

    def batches(it: Iterator) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc

        arrow = {"long": pa.int64(), "string": pa.string()}
        types = [arrow[t] for t in out.values()]
        doc = factory()
        for batch in it:
            batch = batch.filter(
                pc.and_(pc.is_valid(batch.column(0)), pc.is_valid(batch.column(n)))
            )
            take: list[int] = []
            rows: list[tuple] = []
            for r, s in enumerate(batch.column(n).to_pylist()):
                got = doc(s)
                take.extend(repeat(r, len(got)))
                rows.extend(got)
            ids = batch.select(list(range(n))).take(pa.array(take, pa.int64()))
            cols = list(zip(*rows)) or [()] * len(types)
            yield pa.RecordBatch.from_arrays(
                [*ids.columns, *[pa.array(c, type=t) for c, t in zip(cols, types)]],
                names=names,
            )

    return src.mapInArrow(batches, ", ".join(fields))
