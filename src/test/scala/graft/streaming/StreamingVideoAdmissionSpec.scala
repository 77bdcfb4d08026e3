package graft.streaming

import graft.operators.{Multimodal, VideoDedup}

/** VIDEO admission, batch and stream ([[MediaAdmissionBehaviour]]). */
class StreamingVideoAdmissionSpec extends MediaAdmissionBehaviour(VideoDedup, "vid",
  VideoDedup.withPlantedStreams, VideoDedup.plantedRecrawlBatch, Multimodal.plantAvi)
