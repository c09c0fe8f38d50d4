"""The ``trigger(availableNow=True)`` drain shared by every file-fed
stream in this package: the same code is the batch catch-up job and,
without the trigger, the continuous daemon."""

from __future__ import annotations

from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def drain_available_now(
    writer: DataStreamWriter, what: str, await_seconds: int = 300
) -> StreamingQuery:
    """Start ``writer`` on the backlog and wait for it to drain. A drain
    that outlasts ``await_seconds`` is stopped, never reported as done;
    the checkpoint keeps its progress, so a re-run resumes."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(await_seconds):
        q.stop()
        raise TimeoutError(
            f"{what} did not drain within {await_seconds}s (the checkpoint "
            "keeps its progress; re-run to resume)"
        )
    return q
