"""The streaming enrichment pipeline — the reference's use case end-to-end
(README.md:26-37): source → 3 parallel enrichments → transform → reliable
sink with DLQ, under Structured Streaming's delivery guarantees.

Guarantee mapping (README.md:11-20 → engine):
- never lose / ack-after-processing → offsets commit after foreachBatch
- at-least-once, duplicates OK      → checkpoint replay + idempotent write
- ordering not required             → unordered micro-batch parallelism
- auto recovery                     → query restart from checkpoint
- poison messages → DLQ             → errors-as-data split sink
- testable                          → bounded file-fed runs (tests/)
- minimal boilerplate               → this class is the whole wiring
- multi-core                        → partition parallelism
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from labs_stream_processing_examples_scala_spark.plans.enrichment import enrichment_with_errors
from labs_stream_processing_examples_scala_spark.streaming.bounded import (
    _drop_aborted_first_offset,
    await_bounded,
)
from labs_stream_processing_examples_scala_spark.streaming.sinks import main_and_dlq_sink, read_batched_output


class StreamingEnrichmentPipeline:
    """Wire source → enrichment(+errors) → main/DLQ sinks.

    ``chaos=True`` enables the deterministic R7 failure predicate
    (FIXTURES.md P-Q4) so reliability scenarios are reproducible.
    """

    def __init__(
        self,
        output_path: str,
        dlq_path: str,
        checkpoint_path: str,
        chaos: bool = False,
        retry_times: int = 3,
    ):
        self.output_path = output_path
        self.dlq_path = dlq_path
        self.checkpoint_path = checkpoint_path
        self.chaos = chaos
        self.retry_times = retry_times

    def transform(self, messages: DataFrame) -> DataFrame:
        return enrichment_with_errors(messages, chaos=self.chaos)

    def start(self, messages: DataFrame, trigger_once: bool = False, **sink_kwargs) -> StreamingQuery:
        _drop_aborted_first_offset(self.checkpoint_path)
        enriched = self.transform(messages)
        writer = (
            enriched.writeStream.outputMode("append")
            .option("checkpointLocation", self.checkpoint_path)
            .foreachBatch(
                main_and_dlq_sink(
                    self.output_path,
                    self.dlq_path,
                    retry_times=self.retry_times,
                    **sink_kwargs,
                )
            )
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_bounded(self, messages: DataFrame, timeout: float = 120.0) -> None:
        """Process everything available, then stop (for tests/batch-parity).
        Raises TimeoutError if batches are still pending at ``timeout``."""
        await_bounded(self.start(messages, trigger_once=True), timeout, "streaming query")

    def output(self, spark: SparkSession) -> DataFrame:
        return read_batched_output(spark, self.output_path)

    def dlq(self, spark: SparkSession) -> DataFrame:
        return read_batched_output(spark, self.dlq_path)
