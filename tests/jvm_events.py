"""JDK Flight Recorder probes of the session's JVM, driven through py4j."""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def process_starts(spark, dump_path: str):
    """Record ``jdk.ProcessStart`` in the session's JVM while the block runs;
    on exit the yielded list holds the command line of every child process
    the JVM started in the block."""
    jvm = spark._jvm
    recording = jvm.jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    commands: list[str] = []
    try:
        yield commands
    finally:
        recording.stop()
        path = jvm.java.io.File(str(dump_path)).toPath()
        recording.dump(path)
        recording.close()
        events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path)
        commands.extend(events.get(i).getString("command") for i in range(events.size()))
