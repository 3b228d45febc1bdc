"""The MQTT broker of ``sensor_alerts``, run as its own process so that its
socket threads do not share an interpreter lock with the Spark driver:

    python3 -m perfbench.broker

Starts ``sinks.mqtt_wire.InProcessBroker``, prints its port, then answers
one command per input line: ``count`` prints the number of publishes
received so far; ``dump PATH`` writes every received payload as a JSON
list, with the connection count, to PATH and prints ``ok``; end of input
closes the broker and exits."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def main() -> int:
    from kstreams_spark.sinks.mqtt_wire import InProcessBroker

    broker = InProcessBroker()
    print(broker.port, flush=True)
    try:
        for line in sys.stdin:
            cmd, _, arg = line.strip().partition(" ")
            if cmd == "count":
                print(len(broker.published), flush=True)
            elif cmd == "dump":
                with broker._lock:
                    payloads = [p.decode("utf-8") for _, p, _, _ in broker.published]
                    connects = broker.connects
                with open(arg, "w") as fh:
                    json.dump({"payloads": payloads, "connects": connects}, fh)
                print("ok", flush=True)
    finally:
        broker.close()
    return 0


class BrokerProcess:
    """Client side: start the broker process and talk to it."""

    def __init__(self, root: str) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.broker"],
            cwd=root,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.port = int(self.proc.stdout.readline())

    def _ask(self, line: str) -> str:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        return self.proc.stdout.readline().strip()

    def count(self) -> int:
        return int(self._ask("count"))

    def dump(self, path: str) -> dict:
        if self._ask(f"dump {path}") != "ok":
            raise RuntimeError("broker did not write its payloads")
        with open(path) as fh:
            out = json.load(fh)
        os.remove(path)
        return out

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


if __name__ == "__main__":
    sys.exit(main())
