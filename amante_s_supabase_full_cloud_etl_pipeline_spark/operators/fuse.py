"""Media families: one declaration each, and the operators derived
from it — the corpus operator, the two-stage extract operator and
the fused one-hop ``*_from_docs`` operator.

Fusion (guide §4.1): every Python stage pays the JVM → worker → JVM
transpose plus serialization, and a Python stage feeding ANOTHER
Python stage pays it twice back to back — measured ~60 ms of
round-trip latency per task per extra hop on this harness, plus a
second worker per task (the pool churns under that demand). Each
corpus→kernel pipeline in this engine is exactly that shape: a
synthesis kernel (iterator of pandas frames → iterator of pandas
frames) feeding an extraction kernel of the same signature. Function
composition of the two kernel BODIES inside one ``mapInPandas``
produces bit-identical rows — the intermediate frames never cross
the JVM boundary at all.

Adding a family is one declaration in its module::

    FAMILY = MediaFamily(
        OUT_SCHEMA, Corpus(_corpus_kernel, fan_out=True), _extract_kernel
    )

then each public operator is a one-line call with its own signature
and docstring: ``FAMILY.corpus(docs)``, ``FAMILY.extract(media)`` and
``FAMILY.from_docs(docs)``. A kernel that takes parameters is
declared as its factory, wrapped in :class:`Factory`; the operators
pass the parameters through (``FAMILY.extract(media, every)``,
``FAMILY.from_docs(docs, (n_samples,), (every,))``). Whether a kernel
takes parameters is the declaration's call: a factory called without
them, or a plain kernel called with some, raises ``TypeError`` when
the plan is built. A corpus that several families or public builders
share is one :class:`Corpus` constant; corpus builders that have no
extract kernel go through :func:`corpus_frame` with the same schema
constants.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: the (doc_id, blob) contract of the synthetic corpora
BLOB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("blob", BinaryType()),
    ]
)

#: the (doc_id, blob, media_type) contract of the synthetic corpora
#: that label their blobs
CORPUS_SCHEMA = StructType(
    BLOB_SCHEMA.fields + [StructField("media_type", StringType())]
)


def _ids(docs: DataFrame, fan_out: bool) -> DataFrame:
    """The doc_id column of ``docs``; with ``fan_out``, spread across
    every core BEFORE a generate/decode kernel. The upstream scan's
    partitioning follows the parquet file layout (often 1 file at
    test scale, or a few skewed files in a real landing zone), which
    would serialize the per-row codec work in a handful of Python
    workers. Repartitioning HERE is cheap — the only shuffled payload
    is the id column — whereas repartitioning after blob generation
    would shuffle the blobs themselves."""
    ids = docs.select("doc_id")
    if not fan_out:
        return ids
    return ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)


def corpus_frame(
    docs: DataFrame, kernel, schema=CORPUS_SCHEMA, fan_out: bool = False
) -> DataFrame:
    """``docs``' ids → corpus ``kernel`` → a ``schema`` frame, the ids
    spread across every core first when ``fan_out``."""
    return _ids(docs, fan_out).mapInPandas(kernel, schema)


def fused_pandas(source: DataFrame, kernels, schema) -> DataFrame:
    """``source.mapInPandas(k_n ∘ … ∘ k_1, schema)`` — run the given
    iterator→iterator pandas kernels (upstream first) inside a single
    Python worker pass."""
    kernels = tuple(kernels)

    def composed(batches):
        it = batches
        for k in kernels:
            it = k(it)
        return it

    return source.mapInPandas(composed, schema)


@dataclass(frozen=True)
class Factory:
    """A declared kernel that takes parameters: the operators build
    it by calling ``make`` with theirs."""

    make: Callable


def _kernel(kernel, args: tuple):
    """The mapInPandas body of a declared ``kernel``. The declaration
    decides, not the call: a :class:`Factory` is always called (a
    missing parameter fails here, while the plan is built) and a
    plain kernel refuses parameters."""
    if isinstance(kernel, Factory):
        return kernel.make(*args)
    if args:
        raise TypeError(f"{kernel.__name__} takes no parameters")
    return kernel


@dataclass(frozen=True)
class Corpus:
    """A synthetic corpus: ``kernel`` turns doc ids into ``schema``
    frames; ``fan_out`` spreads the ids across every core first."""

    kernel: Callable | Factory
    schema: StructType = CORPUS_SCHEMA
    fan_out: bool = False

    def frame(self, docs: DataFrame, *args) -> DataFrame:
        return corpus_frame(
            docs, _kernel(self.kernel, args), self.schema, self.fan_out
        )


@dataclass(frozen=True)
class MediaFamily:
    """One media family: its ``source`` corpus, and ``extract_kernel``
    turning (doc_id, blob) frames into ``schema`` rows. Rows with a
    null doc_id or blob are dropped before the extract (S4: a row
    that cannot be keyed or decoded is skipped)."""

    schema: StructType
    source: Corpus
    extract_kernel: Callable | Factory

    def corpus(self, docs: DataFrame, *args) -> DataFrame:
        return self.source.frame(docs, *args)

    def extract(self, media: DataFrame, *args) -> DataFrame:
        media = media.filter(
            F.col("doc_id").isNotNull() & F.col("blob").isNotNull()
        )
        return media.mapInPandas(
            _kernel(self.extract_kernel, args), self.schema
        )

    def from_docs(
        self, docs: DataFrame, corpus_args=(), extract_args=()
    ) -> DataFrame:
        """Corpus + extract in one Python hop: bit-identical rows to
        ``extract(corpus(docs))``. The corpus kernel never emits a
        null blob, so only null ids need dropping up front."""
        return fused_pandas(
            _ids(docs.filter(F.col("doc_id").isNotNull()),
                 self.source.fan_out),
            (
                _kernel(self.source.kernel, corpus_args),
                _kernel(self.extract_kernel, extract_args),
            ),
            self.schema,
        )
