"""JDK Flight Recorder probes of the session's JVM, driven through py4j."""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def jfr_recording(spark, dump_path: str, events: dict[str, float | None]):
    """Record the ``events`` (JFR event name -> sampling period in ms, or
    None for an unsampled event, recorded at every duration) in the
    session's JVM while the block runs; on exit the recording is in
    ``dump_path`` (read it with ``jfr print`` / ``jfr summary``). Yields the
    dump's ``java.nio.file.Path``."""
    jvm = spark._jvm
    recording = jvm.jdk.jfr.Recording()
    for name, period_ms in events.items():
        settings = recording.enable(name).withoutThreshold()
        if period_ms is not None:
            settings.withPeriod(jvm.java.time.Duration.ofMillis(int(period_ms)))
    path = jvm.java.io.File(str(dump_path)).toPath()
    recording.start()
    try:
        yield path
    finally:
        recording.stop()
        recording.dump(path)
        recording.close()


@contextmanager
def process_starts(spark, dump_path: str, threads: tuple[str, ...] | None = None):
    """Record ``jdk.ProcessStart`` in the session's JVM while the block runs;
    on exit the yielded list holds the command line of every child process
    the JVM started in the block, or, given ``threads``, only of those
    started by a thread whose name contains one of them (each event
    records the thread that started the process)."""
    commands: list[str] = []
    with jfr_recording(spark, dump_path, {"jdk.ProcessStart": None}) as path:
        yield commands
    events = spark._jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path)
    for event in (events.get(i) for i in range(events.size())):
        thread = event.getThread()
        name = thread.getJavaName() if thread is not None else None
        if threads is None or name is not None and any(t in name for t in threads):
            commands.append(event.getString("command"))
