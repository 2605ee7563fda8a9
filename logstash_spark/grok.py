"""Grok pattern library + compiler.

Re-implements the semantics of logstash-filter-grok (reference:
`logstash-filter-grok` [plugin gem], patterns from
`logstash-patterns-core/patterns/grok-patterns` — see SURVEY.md §2.3):
`%{SYNTAX:semantic:type}` references expanded recursively into one
regex with named captures, per-capture type coercion (`:int`, `:float`),
first-match-wins across a pattern list (`break_on_match`), failure
tagging `_grokparsefailure`.

The compiled regex is emitted in a dialect valid for BOTH java.util.regex
(Spark's `regexp_replace` / `regexp_extract`, which run it) and Python
`re` (which reads its group indexes at compile time): no possessive
quantifiers, no \\p{} unicode classes, no atomic groups.
Stock patterns below are rewritten from scratch in that common subset —
they are behavioral equivalents of the public grok-patterns file, not
copies (several upstream patterns use Oniguruma-only syntax).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# Stock pattern library (subset of logstash-patterns-core grok-patterns,
# rewritten in the java/python common regex dialect).
# ---------------------------------------------------------------------------

PATTERNS: dict[str, str] = {
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": r"(?:\"(?:\\.|[^\\\"])*\"|'(?:\\.|[^\\'])*')",
    "QS": r"%{QUOTEDSTRING}",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    # numbers
    "INT": r"[+-]?(?:[0-9]+)",
    "BASE10NUM": r"[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)",
    "NUMBER": r"%{BASE10NUM}",
    "BASE16NUM": r"(?:0[xX])?[0-9A-Fa-f]+",
    "POSINT": r"[1-9][0-9]*",
    "NONNEGINT": r"[0-9]+",
    # network
    "IPV4": r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)(?:\.(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)){3}",
    "IPV6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}(?:[0-9A-Fa-f]{0,4}|%{IPV4})",
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": r"\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?\b",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "EMAILLOCALPART": r"[a-zA-Z][a-zA-Z0-9_.+-=:]+",
    "EMAILADDRESS": r"%{EMAILLOCALPART}@%{HOSTNAME}",
    # paths / uri
    "UNIXPATH": r"(?:/[\w.%!$@:,~+-]*)+",
    "WINPATH": r"(?:[A-Za-z]:|\\)(?:\\[^\\?*]*)+",
    "PATH": r"(?:%{UNIXPATH}|%{WINPATH})",
    "TTY": r"/dev/(?:pts|tty(?:[pq])?)(?:\w+)?(?:/[0-9]+)?",
    "URIPROTO": r"[A-Za-z](?:[A-Za-z0-9+.-]+)+",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    # dates & times
    "MONTH": r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?)\b",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHNUM2": r"(?:0[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5][0-9]|60)(?:[:.,][0-9]+)?)",
    # zero-width digit guards (upstream semantics): a consuming [^0-9]?
    # here would swallow an adjacent char INTO the capture
    "TIME": r"(?<![0-9])%{HOUR}:%{MINUTE}(?::%{SECOND})(?![0-9])",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "ISO8601_SECOND": r"%{SECOND}",
    "TIMESTAMP_ISO8601": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}(?::?%{SECOND})?%{ISO8601_TIMEZONE}?",
    "DATE": r"(?:%{DATE_US}|%{DATE_EU})",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "TZ": r"(?:[A-Z]{3,4}|[PMCE][SD]T|UTC)",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    # logging
    "LOGLEVEL": r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo(?:rmation)?|INFO(?:RMATION)?|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)",
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid:int}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGFACILITY": r"<%{NONNEGINT:facility:int}.%{NONNEGINT:priority:int}>",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    "SYSLOGLINE": r"%{SYSLOGBASE} %{GREEDYDATA:message}",
    # apache / nginx access logs
    "HTTPDUSER": r"%{EMAILADDRESS}|%{USER}",
    "COMMONAPACHELOG": (
        r"%{IPORHOST:clientip} %{HTTPDUSER:ident} %{HTTPDUSER:auth} "
        r"\[%{HTTPDATE:timestamp}\] \"(?:%{WORD:verb} %{NOTSPACE:request}"
        r"(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})\" "
        r"%{NUMBER:response:int} (?:%{NUMBER:bytes:int}|-)"
    ),
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
    # apache error logs (HTTPD_ERRORLOG = 2.0 | 2.4 alternation; the grok
    # op resolves same-named captures across branches, Oniguruma-style)
    "HTTPDERROR_DATE": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{YEAR}",
    "HTTPD20_ERRORLOG": (
        r"\[%{HTTPDERROR_DATE:timestamp}\] \[%{LOGLEVEL:loglevel}\] "
        r"(?:\[client %{IPORHOST:clientip}\] )?%{GREEDYDATA:message}"
    ),
    "HTTPD24_ERRORLOG": (
        r"\[%{HTTPDERROR_DATE:timestamp}\] \[(?:%{WORD:module}:)?%{LOGLEVEL:loglevel}\]"
        r" \[pid %{POSINT:pid:int}(?::tid %{NONNEGINT:tid:int})?\]"
        r"(?: \[client %{IPORHOST:clientip}:%{POSINT:clientport:int}\])?"
        r" %{GREEDYDATA:message}"
    ),
    "HTTPD_ERRORLOG": r"(?:%{HTTPD24_ERRORLOG}|%{HTTPD20_ERRORLOG})",
    # RFC5424 structured syslog
    "SYSLOG5424PRINTASCII": r"[!-~]+",
    "SYSLOG5424PRI": r"<[0-9]{1,3}>",
    "SYSLOG5424SD": r"(?:\[[^\]]*\])+",
    "SYSLOG5424BASE": (
        r"%{SYSLOG5424PRI}%{NONNEGINT:syslog5424_ver}"
        r" +(?:-|%{TIMESTAMP_ISO8601:syslog5424_ts})"
        r" +(?:-|%{IPORHOST:syslog5424_host})"
        r" +(?:-|%{SYSLOG5424PRINTASCII:syslog5424_app})"
        r" +(?:-|%{SYSLOG5424PRINTASCII:syslog5424_proc})"
        r" +(?:-|%{SYSLOG5424PRINTASCII:syslog5424_msgid})"
        r" +(?:-|%{SYSLOG5424SD:syslog5424_sd})"
    ),
    "SYSLOG5424LINE": r"%{SYSLOG5424BASE} +%{GREEDYDATA:syslog5424_msg}",
    # haproxy HTTP-mode access log (logstash-patterns-core
    # patterns/legacy/haproxy — behavioral rewrite; captured header /
    # cookie segments kept as single fields like the stock pattern)
    "HAPROXYTIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})",
    "HAPROXYDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{HAPROXYTIME}\.%{INT}",
    "HAPROXYHTTPBASE": (
        r"%{IP:client_ip}:%{INT:client_port:int} \[%{HAPROXYDATE:accept_date}\]"
        r" %{NOTSPACE:frontend_name} %{NOTSPACE:backend_name}/%{NOTSPACE:server_name}"
        r" %{INT:time_request:int}/%{INT:time_queue:int}/%{INT:time_backend_connect:int}"
        r"/%{INT:time_backend_response:int}/%{NOTSPACE:time_duration}"
        r" %{INT:http_status_code:int} %{NOTSPACE:bytes_read}"
        r" %{DATA:captured_request_cookie} %{DATA:captured_response_cookie}"
        r" %{NOTSPACE:termination_state}"
        r" %{INT:actconn:int}/%{INT:feconn:int}/%{INT:beconn:int}"
        r"/%{INT:srvconn:int}/%{NOTSPACE:retries}"
        r" %{INT:srv_queue:int}/%{INT:backend_queue:int}"
        r"(?: \{%{DATA:captured_request_headers}\})?"
        r"(?: \{%{DATA:captured_response_headers}\})?"
        r" \"(?:<BADREQ>|%{WORD:http_verb} %{NOTSPACE:http_request}"
        r"(?: HTTP/%{NUMBER:http_version})?)\"?"
    ),
    "HAPROXYHTTP": r"(?:%{SYSLOGTIMESTAMP:syslog_timestamp}|%{TIMESTAMP_ISO8601:timestamp8601}) %{IPORHOST:syslog_server} %{SYSLOGPROG}: %{HAPROXYHTTPBASE}",
    # java
    "JAVACLASS": r"(?:[A-Za-z$_][A-Za-z$_0-9]*\.)*[A-Za-z$_][A-Za-z$_0-9]*",
    "JAVAFILE": r"[A-Za-z$_0-9. -]+",
    "JAVAMETHOD": r"(?:<(?:cl)?init>|[A-Za-z$_][A-Za-z$_0-9]*)",
    "JAVASTACKTRACEPART": (
        r"\s+at %{JAVACLASS:class}\.%{JAVAMETHOD:method}"
        r"\(%{JAVAFILE:file}(?::%{NONNEGINT:line:int})?\)"
    ),
    # hardware addresses
    "CISCOMAC": r"(?:[A-Fa-f0-9]{4}\.){2}[A-Fa-f0-9]{4}",
    "WINDOWSMAC": r"(?:[A-Fa-f0-9]{2}-){5}[A-Fa-f0-9]{2}",
    "COMMONMAC": r"(?:[A-Fa-f0-9]{2}:){5}[A-Fa-f0-9]{2}",
    "MAC": r"(?:%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC})",
    # redis (logstash-patterns-core patterns/legacy/redis — rewritten
    # behavioral equivalents, java/python-common dialect)
    "REDISTIMESTAMP": r"%{MONTHDAY} %{MONTH} %{TIME}",
    "REDISLOG": r"\[%{POSINT:pid}\] %{REDISTIMESTAMP:timestamp} \* ",
    "REDISMONLOG": (
        r"%{NUMBER:timestamp} \[%{INT:database} %{IP:client}:%{NUMBER:port}\]"
        r" \"%{WORD:command}\"\s?%{GREEDYDATA:params}"
    ),
    # mongodb 3.x+ structured log prefix (patterns/legacy/mongodb)
    "MONGO3_SEVERITY": r"\w",
    "MONGO3_COMPONENT": r"%{WORD}",
    "MONGO3_LOG": (
        r"%{TIMESTAMP_ISO8601:timestamp} %{MONGO3_SEVERITY:severity}"
        r" %{MONGO3_COMPONENT:component}\s+(?:\[%{DATA:context}\])?"
        r" %{GREEDYDATA:message}"
    ),
    # tomcat/catalina (patterns/legacy/java): the classic two-line-ish
    # "MMM dd, yyyy h:mm:ss a" stamp + level + message
    "CATALINA_DATESTAMP": (
        r"%{MONTH} %{MONTHDAY}, %{YEAR} %{HOUR}:%{MINUTE}:%{SECOND} (?:AM|PM)"
    ),
    "TOMCAT_DATESTAMP": (
        r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY} %{HOUR}:%{MINUTE}:%{SECOND}"
        r"(?:[,.]%{NONNEGINT})? %{ISO8601_TIMEZONE}"
    ),
    "CATALINALOG": (
        r"%{CATALINA_DATESTAMP:timestamp} %{JAVACLASS:class}"
        r" %{JAVAMETHOD:method}\s*%{GREEDYDATA:message}"
    ),
    "TOMCATLOG": (
        r"%{TOMCAT_DATESTAMP:timestamp} \| %{LOGLEVEL:level} \|"
        r" %{JAVACLASS:class} - %{GREEDYDATA:message}"
    ),
    # cisco syslog envelope (patterns/legacy/firewalls): the %ASA/%PIX
    # tag header every CISCOFW* message shares
    "CISCOTIMESTAMP": r"%{MONTH} +%{MONTHDAY}(?: %{YEAR})? %{TIME}",
    "CISCOTAG": r"[A-Z0-9]+-(?:[A-Z0-9_]+-)?[0-9]+-(?:[A-Z0-9_]+)",
    "CISCO_TAGGED_SYSLOG": (
        r"^<%{POSINT:syslog_pri}>%{CISCOTIMESTAMP:timestamp}"
        r"(?: %{SYSLOGHOST:sysloghost})?"
        r" ?: %%{CISCOTAG:ciscotag}:"
    ),
    "CISCO_REASON": (
        r"Duplicate TCP SYN|Failed to locate egress interface"
        r"|Invalid transport field|No matching connection"
        r"|DNS Response|DNS Query|(?:%{WORD}\s*)*"
    ),
    "CISCO_DIRECTION": r"Inbound|inbound|Outbound|outbound",
    # aws (logstash-patterns-core patterns/legacy/aws — rewritten
    # behavioral equivalents): ELB classic access logs + S3 access logs
    "ELB_URIPATHPARAM": r"%{URIPATH:path}(?:%{URIPARAM:params})?",
    "ELB_URI": (
        r"%{URIPROTO:proto}://(?:%{USER}(?::[^@]*)?@)?"
        r"(?:%{URIHOST:urihost})?(?:%{ELB_URIPATHPARAM})?"
    ),
    "ELB_REQUEST_LINE": r"(?:%{WORD:verb} %{ELB_URI:request}(?: HTTP/%{NUMBER:httpversion})?)",
    "ELB_ACCESS_LOG": (
        r"%{TIMESTAMP_ISO8601:timestamp} %{NOTSPACE:elb}"
        r" %{IP:clientip}:%{INT:clientport:int}"
        r" (?:%{IP:backendip}:%{INT:backendport:int}|-)"
        r" %{NUMBER:request_processing_time:float}"
        r" %{NUMBER:backend_processing_time:float}"
        r" %{NUMBER:response_processing_time:float}"
        r" %{INT:response:int} %{INT:backend_response:int}"
        r" %{INT:received_bytes:int} %{INT:bytes:int}"
        # '- - - ' request line = client disconnected before sending —
        # routine in production; fall back to rawrequest like upstream
        r" \"(?:%{ELB_REQUEST_LINE}|%{DATA:rawrequest})\""
    ),
    "S3_REQUEST_LINE": r"(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?)",
    "S3_ACCESS_LOG": (
        r"%{WORD:owner} %{NOTSPACE:bucket} \[%{HTTPDATE:timestamp}\]"
        r" %{IP:clientip} %{NOTSPACE:requester} %{NOTSPACE:request_id}"
        r" %{NOTSPACE:operation} %{NOTSPACE:key}"
        r" (?:\"%{S3_REQUEST_LINE}\"|-)"
        r" (?:%{INT:response:int}|-) (?:-|%{NOTSPACE:error_code})"
        r" (?:%{INT:bytes:int}|-) (?:%{INT:object_size:int}|-)"
        r" (?:%{INT:request_time_ms:int}|-) (?:%{INT:turnaround_time_ms:int}|-)"
        r" (?:%{QS:referrer}|-) (?:%{QS:agent}|-)"
        r" (?:-|%{NOTSPACE:version_id})"
    ),
    # ruby (patterns/legacy/ruby)
    "RUBY_LOGLEVEL": r"(?:DEBUG|FATAL|ERROR|WARN|INFO)",
    "RUBY_LOGGER": (
        r"[DFEWI], \[%{TIMESTAMP_ISO8601:timestamp} #%{POSINT:pid:int}\]"
        r" *%{RUBY_LOGLEVEL:loglevel} -- +%{DATA:progname}: %{GREEDYDATA:log_message}"
    ),
    # postgresql (patterns/legacy/postgresql)
    "POSTGRESQL": (
        r"%{DATESTAMP:timestamp} %{TZ:tz} %{DATA:user_id}"
        r" %{GREEDYDATA:connection_id} %{POSINT:pid:int}"
    ),
    # squid (patterns/legacy/squid)
    "SQUID3": (
        r"%{NUMBER:timestamp}\s+%{NUMBER:duration:int} %{IP:client_address}"
        r" %{WORD:cache_result}/%{POSINT:status_code:int} %{NUMBER:squid_bytes:int}"
        r" %{WORD:request_method} %{NOTSPACE:url} (?:%{NOTSPACE:user}|-)"
        r" %{WORD:hierarchy_code}/%{IPORHOST:server} %{NOTSPACE:content_type}"
    ),
    # cisco ASA/PIX firewall message bodies (patterns/legacy/firewalls —
    # behavioral rewrites of the most common message IDs; compose with
    # CISCO_TAGGED_SYSLOG for the full line)
    "CISCO_ACTION": (
        r"Built|Teardown|Deny|Denied|denied|requested|permitted"
        r"|denied by ACL|discarded|est-allowed|Dropping|created|deleted"
    ),
    "CISCO_XLATE_TYPE": r"static|dynamic",
    # ASA-1-106001: inbound/outbound connection denied by policy
    "CISCOFW106001": (
        r"%{CISCO_DIRECTION:direction} %{WORD:protocol} connection"
        r" %{CISCO_ACTION:action} from %{IP:src_ip}/%{INT:src_port:int}"
        r" to %{IP:dst_ip}/%{INT:dst_port:int} flags %{DATA:tcp_flags}"
        r" on interface %{GREEDYDATA:interface}"
    ),
    # ASA-4-106023: deny by access-group (the classic ACL drop line)
    "CISCOFW106023": (
        r"%{CISCO_ACTION:action}"
        r"(?: %{WORD:protocol})?"
        r" src %{DATA:src_interface}:%{IPORHOST:src_ip}(?:/%{INT:src_port:int})?"
        r"(?:\(%{DATA:src_fwuser}\))?"
        r" dst %{DATA:dst_interface}:%{IPORHOST:dst_ip}(?:/%{INT:dst_port:int})?"
        r"(?:\(%{DATA:dst_fwuser}\))?"
        r"(?: \(type %{INT:icmp_type:int}, code %{INT:icmp_code:int}\))?"
        r" by access-group \"?%{DATA:policy_id}\"?"
        r" \[%{DATA:hashcode1}, %{DATA:hashcode2}\]"
    ),
    # ASA-6-302013/14/15/16: TCP/UDP connection built/teardown
    "CISCOFW302013_302014_302015_302016": (
        r"%{CISCO_ACTION:action}(?: %{CISCO_DIRECTION:direction})?"
        r" %{WORD:protocol} connection %{INT:connection_id:int}"
        r" for %{DATA:src_interface}:%{IP:src_ip}/%{INT:src_port:int}"
        r"(?: \(%{IP:src_mapped_ip}/%{INT:src_mapped_port:int}\))?"
        r" to %{DATA:dst_interface}:%{IP:dst_ip}/%{INT:dst_port:int}"
        r"(?: \(%{IP:dst_mapped_ip}/%{INT:dst_mapped_port:int}\))?"
        r"(?: duration %{TIME:duration} bytes %{INT:bytes:int})?"
        r"(?: %{CISCO_REASON:reason})?"
        r"(?: \(%{DATA:user}\))?"
    ),
    # mongodb (patterns/legacy/mongodb): 2.x bracketed component lines +
    # the profiler slow-query line; MONGO_QUERY relies on backtracking to
    # balance nested braces up to the following ' ntoreturn:' anchor
    # (upstream uses Oniguruma lookaround — same accepted language)
    "MONGO_WORDDASH": r"\b[\w-]+\b",
    "MONGO_QUERY": r"\{.*\}",
    "MONGO_LOG": (
        r"%{SYSLOGTIMESTAMP:timestamp} \[%{WORD:component}\]"
        r" %{GREEDYDATA:message}"
    ),
    "MONGO_SLOWQUERY": (
        r"%{WORD:profile_op} %{MONGO_WORDDASH:database}\.%{MONGO_WORDDASH:collection}"
        r" %{WORD}: %{MONGO_QUERY:query} %{WORD}:%{NONNEGINT:ntoreturn:int}"
        r" %{WORD}:%{NONNEGINT:ntoskip:int} %{WORD}:%{NONNEGINT:nscanned:int}"
        r".*? %{NONNEGINT:duration:int}ms"
    ),
    # nagios core log (patterns/legacy/nagios — the common event types;
    # NAGIOSLOGLINE is their first-match alternation like upstream)
    "NAGIOSTIME": r"\[%{NUMBER:nagios_epoch}\]",
    "NAGIOS_CURRENT_SERVICE_STATE": (
        r"CURRENT SERVICE STATE: %{DATA:nagios_hostname};%{DATA:nagios_service};"
        r"%{DATA:nagios_state};%{DATA:nagios_statetype};"
        r"%{DATA:nagios_statecode};%{GREEDYDATA:nagios_message}"
    ),
    "NAGIOS_CURRENT_HOST_STATE": (
        r"CURRENT HOST STATE: %{DATA:nagios_hostname};%{DATA:nagios_state};"
        r"%{DATA:nagios_statetype};%{DATA:nagios_statecode};%{GREEDYDATA:nagios_message}"
    ),
    "NAGIOS_SERVICE_ALERT": (
        r"SERVICE ALERT: %{DATA:nagios_hostname};%{DATA:nagios_service};"
        r"%{DATA:nagios_state};%{DATA:nagios_statelevel};"
        r"%{NUMBER:nagios_attempt:int};%{GREEDYDATA:nagios_message}"
    ),
    "NAGIOS_HOST_ALERT": (
        r"HOST ALERT: %{DATA:nagios_hostname};%{DATA:nagios_state};"
        r"%{DATA:nagios_statelevel};%{NUMBER:nagios_attempt:int};"
        r"%{GREEDYDATA:nagios_message}"
    ),
    "NAGIOS_SERVICE_NOTIFICATION": (
        r"SERVICE NOTIFICATION: %{DATA:nagios_notifyname};%{DATA:nagios_hostname};"
        r"%{DATA:nagios_service};%{DATA:nagios_state};"
        r"%{DATA:nagios_contact};%{GREEDYDATA:nagios_message}"
    ),
    "NAGIOS_HOST_NOTIFICATION": (
        r"HOST NOTIFICATION: %{DATA:nagios_notifyname};%{DATA:nagios_hostname};"
        r"%{DATA:nagios_state};%{DATA:nagios_contact};%{GREEDYDATA:nagios_message}"
    ),
    "NAGIOS_TIMEPERIOD_TRANSITION": (
        r"TIMEPERIOD TRANSITION: %{DATA:nagios_service};"
        r"%{NUMBER:nagios_unknown1};%{NUMBER:nagios_unknown2}"
    ),
    "NAGIOS_EC_LINE_PROCESS_SERVICE_CHECK_RESULT": (
        r"EXTERNAL COMMAND: PROCESS_SERVICE_CHECK_RESULT;"
        r"%{DATA:nagios_hostname};%{DATA:nagios_service};"
        r"%{NUMBER:nagios_check_result:int};%{GREEDYDATA:nagios_message}"
    ),
    "NAGIOSLOGLINE": (
        r"%{NAGIOSTIME} (?:%{NAGIOS_CURRENT_SERVICE_STATE}"
        r"|%{NAGIOS_CURRENT_HOST_STATE}|%{NAGIOS_SERVICE_ALERT}"
        r"|%{NAGIOS_HOST_ALERT}|%{NAGIOS_SERVICE_NOTIFICATION}"
        r"|%{NAGIOS_HOST_NOTIFICATION}|%{NAGIOS_TIMEPERIOD_TRANSITION}"
        r"|%{NAGIOS_EC_LINE_PROCESS_SERVICE_CHECK_RESULT})"
    ),
    # linux-syslog extras (patterns/legacy/linux-syslog)
    "CRON_ACTION": r"[A-Z ]+",
    "CRONLOG": (
        r"%{SYSLOGBASE} \(%{USER:user}\) %{CRON_ACTION:action}"
        r" \(%{DATA:command}\)"
    ),
    "SYSLOGPAMSESSION": (
        r"%{SYSLOGBASE} %{WORD:pam_module}\(%{DATA:pam_caller}\):"
        r" session %{WORD:pam_session_state} for user %{USERNAME:username}"
        r"(?: by %{GREEDYDATA:pam_by})?"
    ),
    # juniper netscreen traffic session log (patterns/legacy/firewalls)
    "NETSCREENSESSIONLOG": (
        r"%{SYSLOGTIMESTAMP:date} %{IPORHOST:device} %{IPORHOST}:"
        r" NetScreen device_id=%{WORD:device_id} .*?"
        r"system-%{WORD:severity}-%{NONNEGINT:event_type:int}\(%{WORD}\):"
        r" start_time=%{QS:start_time} duration=%{INT:duration:int}"
        r" policy_id=%{INT:policy_id:int} service=%{DATA:service}"
        r" proto=%{INT:proto:int} src zone=%{WORD:src_zone}"
        r" dst zone=%{WORD:dst_zone} action=%{WORD:action}"
        r" sent=%{INT:sent:int} rcvd=%{INT:rcvd:int}"
        r" src=%{IPORHOST:src_ip} dst=%{IPORHOST:dst_ip}"
        r"(?: src_port=%{INT:src_port:int} dst_port=%{INT:dst_port:int})?"
        r"(?: session_id=%{INT:session_id:int} reason=%{GREEDYDATA:reason})?"
    ),
}

_REF = re.compile(r"%\{(\w+)(?::([\w\.\[\]@-]+))?(?::(\w+))?\}")
_MAX_DEPTH = 32


@dataclass(frozen=True)
class Capture:
    """One named capture in a compiled grok expression."""

    name: str  # user-facing field name (semantic)
    group: str  # unique regex group name
    index: int  # 1-based group index in the compiled regex
    cast: str | None  # 'int' | 'float' | None


@dataclass(frozen=True)
class CompiledGrok:
    regex: str
    captures: tuple[Capture, ...]


def _sanitize_group(name: str, taken: set[str]) -> str:
    base = re.sub(r"[^0-9A-Za-z]", "", name) or "f"
    if base[0].isdigit():
        base = "g" + base
    g, i = base, 0
    while g in taken:
        i += 1
        g = f"{base}{i}"
    return g


def compile_pattern(
    pattern: str, extra_patterns: dict[str, str] | None = None
) -> CompiledGrok:
    """Expand %{SYNTAX:semantic:type} refs into one regex with named groups.

    Mirrors the recursive expansion in jruby-grok's Grok#compile (used by
    logstash-filter-grok); semantic-less refs (%{SYNTAX}) are non-capturing,
    matching Logstash's default named_captures_only=true.
    """
    library = dict(PATTERNS)
    if extra_patterns:
        library.update(extra_patterns)

    captures: list[tuple[str, str, str | None]] = []  # (field, group, cast)
    taken: set[str] = set()

    def expand(p: str, depth: int) -> str:
        if depth > _MAX_DEPTH:
            raise ValueError(f"grok pattern recursion exceeds {_MAX_DEPTH}")

        def sub(m: re.Match[str]) -> str:
            syntax, semantic, cast = m.group(1), m.group(2), m.group(3)
            if syntax not in library:
                raise KeyError(f"unknown grok pattern %{{{syntax}}}")
            inner = expand(library[syntax], depth + 1)
            if semantic:
                g = _sanitize_group(semantic, taken)
                taken.add(g)
                captures.append((semantic, g, cast))
                return f"(?<{g}>{inner})"
            return f"(?:{inner})"

        return _REF.sub(sub, p)

    regex = expand(pattern, 0)
    # Group indexes: walk the final regex; named groups appear in order of
    # their opening parens. Python's re can tell us directly.
    probe = re.compile(_to_python(regex))
    caps = tuple(
        Capture(name=field, group=g, index=probe.groupindex[g], cast=cast)
        for field, g, cast in captures
    )
    return CompiledGrok(regex=regex, captures=caps)


def _to_python(java_regex: str) -> str:
    """(?<name>...) → (?P<name>...) for Python `re`."""
    return re.sub(r"\(\?<([A-Za-z][A-Za-z0-9]*)>", r"(?P<\1>", java_regex)


def to_python_regex(c: CompiledGrok) -> str:
    return _to_python(c.regex)


def to_java_regex(c: CompiledGrok) -> str:
    return c.regex
