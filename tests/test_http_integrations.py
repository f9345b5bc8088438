"""REAL HTTP round-trips for the live-I/O seams, against an in-process
loopback server (stdlib http.server): the RestApiFetcher drives the full
videos.list / channels.list client path and feeds the ACTUAL ingestion
operators; UrllibJsonTransport delivers a SendGrid-shaped POST and
enforces the reference's 'raise unless 202' contract. This closes the
round-5 'seam exists but no HTTP client' gap with zero new
dependencies."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from tests.conftest import make_day_json


class _ApiHandler(BaseHTTPRequestHandler):
    """Serves a canned YouTube-API-shaped catalog; records requests."""

    day = None
    requests: list = []
    fail_next: list = []  # queue of status codes to fail with

    def log_message(self, *a):  # quiet
        pass

    def do_GET(self):
        _ApiHandler.requests.append(self.path)
        if _ApiHandler.fail_next:
            code = _ApiHandler.fail_next.pop(0)
            self.send_response(code)
            self.end_headers()
            return
        from urllib.parse import parse_qs, urlparse

        u = urlparse(self.path)
        q = parse_qs(u.query)
        if u.path.endswith("/videos"):
            region = q["regionCode"][0]
            payload = _ApiHandler.day.get(region, {"items": []})
        elif u.path.endswith("/channels"):
            ids = q["id"][0].split(",")
            payload = {
                "items": [
                    {
                        "id": cid,
                        "snippet": {
                            "title": f"channel {cid}",
                            "country": "QA",
                            "publishedAt": "2020-05-06T07:08:09Z",
                        },
                        "statistics": {
                            "subscriberCount": "123",
                            "viewCount": "456",
                            "videoCount": "7",
                        },
                        "status": {"madeForKids": False},
                        "brandingSettings": {
                            "channel": {"keywords": "news sports"}
                        },
                    }
                    for cid in ids
                ]
            }
        else:
            self.send_response(404)
            self.end_headers()
            return
        body = json.dumps(payload).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        n = int(self.headers.get("Content-Length", 0))
        _ApiHandler.requests.append(
            (self.path, dict(self.headers), self.rfile.read(n))
        )
        if _ApiHandler.fail_next:
            code = _ApiHandler.fail_next.pop(0)
            self.send_response(code)
            self.end_headers()
            return
        self.send_response(202)
        self.end_headers()


@pytest.fixture()
def api_server():
    _ApiHandler.day = make_day_json()
    _ApiHandler.requests = []
    _ApiHandler.fail_next = []
    srv = HTTPServer(("127.0.0.1", 0), _ApiHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_rest_fetcher_trending_feeds_ingestion(spark, api_server, tmp_path):
    """The REAL urllib client fetches per-region payloads and the bronze
    frame built from them demultiplexes identically to the recorded
    day-file path."""
    from youtube_trending_data_pipeline_spark.sources.bronze import (
        region_items,
    )
    from youtube_trending_data_pipeline_spark.sources.fetchers import (
        RestApiFetcher,
        bronze_from_fetcher,
    )

    f = RestApiFetcher("test-key", base_url=api_server)
    bronze = bronze_from_fetcher(
        spark, f, ["QA", "US", "DE", "XX"], str(tmp_path / "day.json")
    )
    items = region_items(bronze)
    assert items.count() == 60  # XX absent -> P7 guard drops it
    assert {r.region for r in bronze.select("region").collect()} == {
        "QA", "US", "DE",
    }
    # request shape matches the reference (ing:76-82)
    videos_reqs = [p for p in _ApiHandler.requests if "/videos?" in p]
    assert len(videos_reqs) == 4
    assert "part=snippet%2CcontentDetails%2Cstatistics" in videos_reqs[0]
    assert "chart=mostPopular" in videos_reqs[0]
    assert "maxResults=20" in videos_reqs[0]
    assert "key=test-key" in videos_reqs[0]


def test_rest_fetcher_channels_batched_executor_side(spark, api_server):
    """channels_from_fetcher ships the REAL client to executors; batched
    channels.list calls come back as CHANNELS-shaped rows."""
    import datetime as dt

    from youtube_trending_data_pipeline_spark.sources.fetchers import (
        RestApiFetcher,
        channels_from_fetcher,
    )

    f = RestApiFetcher("k", base_url=api_server)
    ids = spark.createDataFrame(
        [(f"ch-{i}",) for i in range(7)], "channel_id string"
    ).repartition(2)
    rows = {r.id: r for r in channels_from_fetcher(ids, f, batch_size=3).collect()}
    assert set(rows) == {f"ch-{i}" for i in range(7)}
    r = rows["ch-0"]
    assert r.channel_name == "channel ch-0"
    assert r.country == "QA"
    assert r.subscribers_count == 123 and r.views_count == 456
    assert r.creation_date == dt.datetime(2020, 5, 6, 7, 8, 9)
    assert r.keywords == "news sports"


def test_rest_fetcher_retries_then_fails_loudly(api_server):
    from youtube_trending_data_pipeline_spark.sources.fetchers import (
        RestApiFetcher,
    )

    f = RestApiFetcher("k", base_url=api_server, retries=1, backoff_s=0.0)
    # one 500 then success -> retry succeeds
    _ApiHandler.fail_next = [500]
    assert f.fetch_trending("QA") is not None
    # 4xx is not retryable
    _ApiHandler.fail_next = [403]
    with pytest.raises(RuntimeError, match="HTTP 403"):
        f.fetch_trending("QA")
    # exhausted retries -> loud failure
    _ApiHandler.fail_next = [500, 500]
    with pytest.raises(RuntimeError, match="failed after retries"):
        f.fetch_trending("QA")


def test_sendgrid_sender_posts_real_http(api_server):
    """SendGridShapedSender + UrllibJsonTransport: the exact v3 payload
    travels over real HTTP; 202 accepted, 500 raises (wk:93-109)."""
    from youtube_trending_data_pipeline_spark.report.delivery import (
        SendGridShapedSender,
        UrllibJsonTransport,
    )

    sender = SendGridShapedSender(
        "sg-key", "reports@example.com", UrllibJsonTransport(retries=0)
    )
    sender.URL = f"{api_server}/v3/mail/send"
    sender.send("Weekly Report", "<h1>hi</h1>", ["a@x.com", "b@x.com"])
    path, headers, body = [
        r for r in _ApiHandler.requests if isinstance(r, tuple)
    ][-1]
    assert path == "/v3/mail/send"
    assert headers["Authorization"] == "Bearer sg-key"
    payload = json.loads(body)
    assert payload["personalizations"] == [
        {"to": [{"email": "a@x.com"}, {"email": "b@x.com"}]}
    ]
    assert payload["content"] == [{"type": "text/html", "value": "<h1>hi</h1>"}]
    _ApiHandler.fail_next = [500]
    with pytest.raises(RuntimeError):
        sender.send("again", "<p>x</p>", ["a@x.com"])


def test_full_daily_pipeline_live_over_http(spark, api_server, tmp_path):
    """The reference's ENTIRE daily schedule, live: trending fetch +
    channel fetch over real loopback HTTP (RestApiFetcher), bronze ->
    silver -> gold through the production jobs, weekly report delivered
    back over HTTP (UrllibJsonTransport). A user replaying the
    reference's DAGs against the live API runs exactly this code path
    with a different base_url."""
    import datetime as dt

    from youtube_trending_data_pipeline_spark.pipeline import (
        PipelineConfig,
        run_daily_aggregates,
        run_daily_ingestion,
        run_weekly_report,
    )
    from youtube_trending_data_pipeline_spark.report.delivery import (
        SendGridShapedSender,
        UrllibJsonTransport,
    )
    from youtube_trending_data_pipeline_spark.sources.fetchers import (
        RestApiFetcher,
    )

    cfg = PipelineConfig(
        bronze_dir=str(tmp_path / "bronze"),
        videos_dir=str(tmp_path / "videos"),
        channels_dir=str(tmp_path / "channels"),
        insights_dir=str(tmp_path / "insights"),
    )
    fetcher = RestApiFetcher("k", base_url=api_server)
    run_date = dt.date(2025, 10, 6)
    silver = run_daily_ingestion(spark, cfg, run_date, fetcher=fetcher)
    assert silver.count() == 60
    gold = run_daily_aggregates(spark, cfg, run_date)
    assert gold.count() == 3  # one insight row per region
    channels = spark.read.parquet(cfg.channels_dir)
    assert channels.count() > 0  # channel metadata arrived over HTTP

    sender = SendGridShapedSender(
        "sg", "reports@example.com", UrllibJsonTransport(retries=0)
    )
    sender.URL = f"{api_server}/v3/mail/send"
    report, html = run_weekly_report(
        spark, cfg, run_date, sender=sender, recipients=["ops@example.com"]
    )
    assert report.count() == 3 and "<table" in html
    posts = [r for r in _ApiHandler.requests if isinstance(r, tuple)]
    assert posts, "report was not delivered over HTTP"
