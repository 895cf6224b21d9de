import loadgen


class FakeClock:
    def __init__(self, t=0.0):
        self.t = t

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += s


def test_schedule_is_fixed_rate():
    assert loadgen.schedule(2.0, 2, 100.0) == [100.0, 100.5, 101.0, 101.5]
    assert len(loadgen.schedule(10.0, 12, 0.0)) == 120


def test_open_loop_times_from_due_and_reports_lateness():
    clock = FakeClock()
    # the second request stalls for 1.2 s; requests are due every 0.5 s
    costs = [0.1, 1.2, 0.1, 0.1]

    def send(i):
        clock.t += costs[i]
        return 200, b"{}"

    out = loadgen.open_loop([0.0, 0.5, 1.0, 1.5], send, clock=clock, sleep=clock.sleep)
    assert [round(r["late_s"], 6) for r in out] == [0.0, 0.0, 0.7, 0.3]
    # latency runs from the due time, so the stall is charged to the
    # requests queued behind it as well
    assert [round(r["latency_s"], 6) for r in out] == [0.1, 1.2, 0.8, 0.4]
    assert all(r["status"] == 200 for r in out)


def test_open_loop_records_failed_sends():
    clock = FakeClock()

    def send(i):
        raise ConnectionRefusedError("down")

    out = loadgen.open_loop([0.0, 1.0], send, clock=clock, sleep=clock.sleep)
    assert [r["status"] for r in out] == [0, 0]
    assert "down" in out[0]["body"]
