from .runner import StreamingPipelineRunner  # noqa: F401
from .wire import WIRE_SCHEMA, events_to_wire_lines, write_wire_file  # noqa: F401
