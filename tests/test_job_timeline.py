"""tools/job_timeline.py: the per-job table of one procedure call."""

from tools.job_timeline import format_timeline


def _job(job, sub, end, stages=2, skipped=1, tasks=8, status="SUCCEEDED"):
    return {"job": job, "submitted_ms": sub, "completed_ms": end, "stages": stages,
            "skipped": skipped, "tasks": tasks, "call_site": f"count at x.py:{job}",
            "status": status}


def test_format_timeline_offsets_gaps_and_totals():
    rows = [_job(1, 1100, 1300), _job(2, 1250, 1400), _job(3, 1500, 1600, status="FAILED")]
    lines = format_timeline(rows, t0_ms=1000, t1_ms=2000)
    assert len(lines) == 1 + len(rows) + 1
    first, overlapping, failed = (line.split() for line in lines[1:4])
    # offset from the call start, gap since the previous job ended, duration
    assert first[1:4] == ["0.100", "0.100", "0.200"]
    assert overlapping[1:4] == ["0.250", "-0.050", "0.150"]
    assert failed[2] == "0.100" and lines[3].endswith("[FAILED]")
    # covered: 1100-1400 and 1500-1600 = 0.4 s of a 1 s call
    assert lines[-1] == (
        "jobs 3  stages 6 (skipped 3)  tasks 24  call 1.000 s"
        "  in jobs 0.400 s  between jobs 0.600 s"
    )
