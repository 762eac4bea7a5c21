"""Per-plugin golden tests, ported 1:1 from the reference's test
strategy (SURVEY.md §5; reference lambdas/tests/test_plugins.py,
test_plugin_timestamps.py, test_plugin_ip_addresses.py,
test_plugin_gsuite_logins.py) against synthesized fixtures with the
same documented golden values (FIXTURES.md)."""

import copy
import uuid

from defenda_data_lake_spark.operators.pipeline import (
    default_plugins,
    event_criteria_values,
    run_pipeline,
)
from defenda_data_lake_spark.operators.plugins import (
    EnsureEventId,
    EventShell,
    GsuiteLogin,
    IpAddresses,
    LowercaseKeys,
    Timestamps,
    is_ip,
)
from tests.fixtures.events import deep_copy


def shell_then_lower(event):
    """Pre-normalize the way the reference tests do
    (test_plugin_timestamps.py:44-50)."""
    event = EventShell().on_event(event, {})
    return LowercaseKeys().on_event(event, {})


# ---------------------------------------------------------------- lowercase


class TestLowercaseKeys:
    def test_nochange(self):
        event = {"key1": "syslog", "tags": ["atag"]}
        assert LowercaseKeys().on_event(copy.deepcopy(event), {}) == event

    def test_lower_keys_at_all_depths(self):
        event = {"KEY1": "syslog", "tags": ["atag"], "details": {"SUBKEY": "s"}}
        assert LowercaseKeys().on_event(event, {}) == {
            "key1": "syslog",
            "tags": ["atag"],
            "details": {"subkey": "s"},
        }


# ---------------------------------------------------------------- shell


class TestEventShell:
    def test_base_shell_and_demotion(self):
        result = EventShell().on_event({"key1": "syslog", "tags": ["atag"]}, {})
        assert result["severity"] == "INFO"
        assert "atag" in result["tags"]
        assert result["details"]["key1"] == "syslog"
        assert set(result) <= set(EventShell.SHELL_KEYS)

    def test_complex_demotion(self):
        result = EventShell().on_event(
            {"key1": "syslog", "tags": ["atag"], "complexkey": {"subkey": "v"}}, {}
        )
        assert result["details"]["complexkey"] == {"subkey": "v"}

    def test_top_level_eventid_demoted(self):
        # the reference shell template has no eventid: a pre-existing
        # top-level eventid moves into details (preserved quirk)
        result = EventShell().on_event({"eventid": "abc", "x": 1}, {})
        assert "eventid" not in result
        assert result["details"]["eventid"] == "abc"


# ---------------------------------------------------------------- eventid


class TestEnsureEventId:
    def test_adds_when_missing(self):
        result = EnsureEventId().on_event({"key1": "v"}, {})
        assert uuid.UUID(result["eventid"])

    def test_keeps_existing(self):
        result = EnsureEventId().on_event({"eventid": "keep-me"}, {})
        assert result["eventid"] == "keep-me"


# ---------------------------------------------------------------- timestamps


class TestTimestamps:
    def test_nochange_benign(self):
        event = deep_copy("syslog")
        del event["details"]["timestamp"]
        want = copy.deepcopy(event)
        result = Timestamps().on_event(event, {})
        assert result["details"].pop("_utcprocessedtimestamp")
        assert result == want

    def test_structure(self):
        for name in ("cloudtrail", "cloudfront", "vpc_flow"):
            result = Timestamps().on_event(shell_then_lower(deep_copy(name)), {})
            for field in ("severity", "summary", "category", "source", "tags",
                          "plugins", "details", "utctimestamp"):
                assert field in result
            assert "_utcprocessedtimestamp" in result["details"]

    def test_golden_values(self):
        result = Timestamps().on_event(shell_then_lower(deep_copy("cloudtrail")), {})
        assert result["utctimestamp"] == "2019-09-04T17:54:59+00:00"

        result = Timestamps().on_event(shell_then_lower(deep_copy("cloudfront")), {})
        assert result["utctimestamp"] == "2020-09-01T17:48:18+00:00"

        result = Timestamps().on_event(shell_then_lower(deep_copy("vpc_flow")), {})
        assert result["utctimestamp"] == "2014-12-14T04:06:50+00:00"

    def test_invalid_dates_rejected(self):
        for name, field in (
            ("cloudtrail", "eventtime"),
            ("cloudfront", "time"),
            ("vpc_flow", "start"),
        ):
            event = shell_then_lower(deep_copy(name))
            event["details"][field] = "nada"
            result = Timestamps().on_event(event, {})
            assert result["details"][field] == "nada"


# ---------------------------------------------------------------- ips


class TestIpAddresses:
    def test_is_ip(self):
        assert is_ip("1.2.3.4")
        assert is_ip("10.0.0.0/8")
        assert is_ip("2001:db8::1")
        assert not is_ip("0")
        assert not is_ip("123.456.253.226")
        assert not is_ip("config.amazonaws.com")
        assert not is_ip(None)

    def test_nochange_benign(self):
        event = deep_copy("syslog")
        want = copy.deepcopy(event)
        assert IpAddresses().on_event(event, {}) == want

    def test_cloudtrail_golden(self):
        result = IpAddresses().on_event(shell_then_lower(deep_copy("cloudtrail")), {})
        assert result["details"]["sourceipaddress"] == "54.21.12.27"
        assert "54.21.12.27" in result["details"]["_ipaddresses"]

    def test_cloudfront_golden(self):
        result = IpAddresses().on_event(shell_then_lower(deep_copy("cloudfront")), {})
        assert result["details"]["sourceipaddress"] == "139.59.66.23"

    def test_vpc_flow_golden(self):
        result = IpAddresses().on_event(shell_then_lower(deep_copy("vpc_flow")), {})
        assert result["details"]["sourceipaddress"] == "198.51.100.1"
        assert result["details"]["destinationipaddress"] == "192.0.2.1"
        assert set(result["details"]["_ipaddresses"]) == {
            "198.51.100.1",
            "192.0.2.1",
        }

    def test_x_forwarded_for_comma_list(self):
        event = shell_then_lower(
            {"x-forwarded-for": "203.0.113.9, 198.51.100.2", "k": 1}
        )
        result = IpAddresses().on_event(event, {})
        assert result["details"]["sourceipaddress"] == "203.0.113.9"

    def test_destination_comma_list_not_split(self):
        # the reference only splits comma lists in the SOURCE search
        # (ip_addresses.py:64-69); a comma list in a destination field
        # is not a valid IP and harvests nothing
        event = shell_then_lower({"dstaddr": "192.0.2.7, 192.0.2.8", "k": 1})
        result = IpAddresses().on_event(event, {})
        assert "destinationipaddress" not in result["details"]

    def test_cloudtrail_useragent_fake_ip_dropped(self):
        event = shell_then_lower(
            {
                "sourceipaddress": "config.amazonaws.com",
                "useragent": "config.amazonaws.com",
            }
        )
        result = IpAddresses().on_event(event, {})
        assert "sourceipaddress" not in result["details"]

    def test_invalid_ips_not_harvested(self):
        event = shell_then_lower({"srcaddr": "999.1.2.3", "dstaddr": "nope"})
        result = IpAddresses().on_event(event, {})
        assert "sourceipaddress" not in result["details"]
        assert "destinationipaddress" not in result["details"]
        assert "_ipaddresses" not in result["details"]


# ---------------------------------------------------------------- gsuite


class TestGsuiteLogin:
    def normalized(self):
        return shell_then_lower(deep_copy("gsuite"))

    def test_nochange_for_non_gsuite(self):
        event = shell_then_lower(deep_copy("syslog"))
        want = copy.deepcopy(event)
        assert GsuiteLogin().on_event(event, {}) == want

    def test_golden_values(self):
        result = GsuiteLogin().on_event(self.normalized(), {})
        assert result["source"] == "gsuite"
        assert "gsuite" in result["tags"]
        assert result["category"] == "authentication"
        assert (
            result["summary"]
            == "someone@somewhere.com login_success from IP 123.456.253.226"
        )
        assert result["details"]["success"] is True
        assert result["details"]["user"] == "someone@somewhere.com"
        assert result["details"]["sourceipaddress"] == "123.456.253.226"
        assert "ipaddress" not in result["details"]
        assert result["utctimestamp"] == "2020-03-02T17:54:33.253000+00:00"
        assert "suspicious" not in result["details"]

    def test_suspicious_flag(self):
        event = self.normalized()
        event["details"]["events"][0]["parameters"].append(
            {"name": "is_suspicious", "boolvalue": True}
        )
        result = GsuiteLogin().on_event(event, {})
        assert result["details"]["suspicious"] is True

    # The summary is the reference's mustache template
    # "{{details.user}} {{details.events.0.name}} from IP
    # {{details.sourceipaddress}}" (gsuite_login.py:43).
    @staticmethod
    def summary(**details):
        event = {
            "details": {
                "kind": "admin#reports#activity",
                "id": "x",
                "etag": "e",
                **details,
            }
        }
        return GsuiteLogin().on_event(event, {})["summary"]

    def test_summary_reference_template(self):
        assert (
            self.summary(
                actor={"email": "alice@example.com"},
                ipaddress="198.51.100.7",
                events=[{"name": "login_success"}, {"name": "logout"}],
            )
            == "alice@example.com login_success from IP 198.51.100.7"
        )

    def test_summary_missing_paths_render_empty(self):
        assert self.summary() == "  from IP "
        assert self.summary(user=None, events=None) == "  from IP "
        assert self.summary(events=[{}], user="u") == "u  from IP "
        assert self.summary(events="login") == "  from IP "

    def test_summary_list_index_out_of_range(self):
        assert self.summary(events=[]) == "  from IP "
        assert self.summary(events=[{"name": "a"}, {"name": "b"}]) == " a from IP "

    def test_summary_html_escaping(self):
        assert (
            self.summary(user="a<b&c", sourceipaddress='"x">')
            == 'a&lt;b&amp;c  from IP "x"&gt;'
        )

    def test_summary_numbers_and_booleans_stringify(self):
        assert self.summary(user=0, events=[{"name": False}]) == "0 False from IP "
        assert self.summary(sourceipaddress=True) == "  from IP True"
        assert self.summary(user=[1, "<"]) == "[1, '&lt;']  from IP "


# ---------------------------------------------------------------- router


class TestRouter:
    def test_criteria_values(self):
        tokens = event_criteria_values(
            {"category": "authentication", "tags": ["gsuite"], "details": {"kind": 1}}
        )
        assert {"category", "tags", "details", "kind", "authentication", "gsuite"} <= tokens

    def test_full_pipeline_provenance_and_routing(self):
        result = run_pipeline(deep_copy("gsuite"), default_plugins())
        # the reference's two-pass order: every normalization plugin,
        # then the enrichment pass (ensure_eventid) — processor.py:40-45
        assert result["plugins"] == [
            "lowercase_keys",
            "event_shell",
            "timestamps",
            "ip_addresses",
            "gsuite_login",
            "ensure_eventid",
        ]
        assert result["category"] == "authentication"

    def test_registration_skips_non_matching(self):
        result = run_pipeline(deep_copy("vpc_flow"), default_plugins())
        assert "gsuite_login" not in result["plugins"]
        assert result["details"]["sourceipaddress"] == "198.51.100.1"

    def test_drop_on_none(self):
        class Dropper:
            name = "dropper"
            registration = ["*"]
            priority = 50

            def on_event(self, event, metadata):
                return None

        assert run_pipeline({"a": 1}, default_plugins() + [Dropper()]) is None


# ------------------------------------------------- dynamic discovery


REFERENCE_STYLE_PLUGIN = '''
class message(object):
    def __init__(self):
        self.registration = ["customfield"]
        self.priority = 5

    def onMessage(self, message, metadata):
        message["details"]["custom_seen"] = True
        return (message, metadata)
'''

NATIVE_STYLE_PLUGIN = '''
from defenda_data_lake_spark.operators.pipeline import Plugin

class DropSpam(Plugin):
    name = "drop_spam"
    registration = ["spamfield"]
    priority = 7
    phase = "enrichment"

    def on_event(self, event, metadata):
        return None
'''


class TestRegisterPlugins:
    """Mirrors the reference's dynamic-discovery contract
    (reference utils/plugins.py:31-58): scan a directory, register every
    module exposing a ``message`` class, order by priority."""

    def _plugin_dir(self, tmp_path):
        d = tmp_path / "normalization_plugins"
        d.mkdir()
        (d / "custom_marker.py").write_text(REFERENCE_STYLE_PLUGIN)
        (d / "drop_spam.py").write_text(NATIVE_STYLE_PLUGIN)
        (d / "_helper.py").write_text("raise RuntimeError('must not import')")
        (d / "notes.txt").write_text("not python")
        return str(d)

    def test_discovers_both_contracts(self, tmp_path):
        from defenda_data_lake_spark.operators.pipeline import register_plugins

        plugins = register_plugins(self._plugin_dir(tmp_path))
        names = [p.name for p in plugins]
        # reference-style plugin is named after its module, like the
        # reference's __module__-derived provenance name
        assert names == ["custom_marker", "drop_spam"]
        assert plugins[0].priority == 5
        assert plugins[0].registration == ["customfield"]

    def test_missing_dir_is_empty(self):
        from defenda_data_lake_spark.operators.pipeline import register_plugins

        assert register_plugins("/nonexistent/plugins") == []

    def test_routes_through_run_pipeline(self, tmp_path):
        from defenda_data_lake_spark.operators.pipeline import (
            register_plugins,
            run_pipeline,
        )

        plugins = register_plugins(self._plugin_dir(tmp_path))
        fired = run_pipeline(
            {"details": {"customfield": 1}, "tags": []}, plugins
        )
        assert fired["details"]["custom_seen"] is True
        assert fired["plugins"] == ["custom_marker"]
        skipped = run_pipeline({"details": {"other": 1}}, plugins)
        assert "custom_seen" not in skipped["details"]
        # native-contract plugin signals drop with None
        assert run_pipeline({"details": {"spamfield": 1}}, plugins) is None

    def test_dropped_in_plugin_fires_through_normalize_df(self, spark, tmp_path):
        """A file dropped into the plugin dir extends normalize_df with
        no engine-code change — the reference's deployment story."""
        import json

        from defenda_data_lake_spark.operators.pipeline import (
            STATUS_OK,
            normalize_df,
            plugin_dir_factory,
        )

        plugin_dir = self._plugin_dir(tmp_path)
        raw = spark.createDataFrame(
            [(json.dumps({"customfield": "x", "summary": "hi"}),)], ["raw"]
        )
        out = normalize_df(
            raw, plugin_factory=plugin_dir_factory(plugin_dir)
        ).filter(f"_status = '{STATUS_OK}'")
        row = out.collect()[0]
        details = json.loads(row["details"])
        assert details["custom_seen"] is True
        assert "custom_marker" in row["plugins"]
        # defaults still ran (event_shell et al.)
        assert "event_shell" in row["plugins"]


def test_adapter_string_registration_is_one_token_not_wildcard():
    from defenda_data_lake_spark.operators.pipeline import ReferencePluginAdapter

    class Impl:
        registration = "SourceIpAddress"
        priority = 5

        def onMessage(self, message, metadata):
            return message, metadata

    p = ReferencePluginAdapter(Impl(), "impl")
    assert p.registration == ["sourceipaddress"]

    class NoReg:
        def onMessage(self, message, metadata):
            return message, metadata

    assert ReferencePluginAdapter(NoReg(), "noreg").registration == ["*"]
