from .file_source import (  # noqa: F401
    csv_file_source,
    file_source,
    json_file_source,
    kafka_source_options,
)
from .network import (  # noqa: F401
    TcpSpoolListener,
    UdpSpoolListener,
    stdin_to_spool,
    tcp_syslog_stream,
    tcp_text_stream,
)
